"""Unit tests for the corpus-hygiene operators: PII redaction, sequence
packing, passage dedup semantics, contamination join, and shard stability.
(The six catalog queries also hash-match DuckDB in test_oracle_parity.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from training_catalog.functions import pii as P
from training_catalog.operators.packing import pack_sequences

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def _redact_one(spark, s: str) -> str:
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(P.redact_pii(F.col("t")).alias("r")).first().r


def test_redact_email_phone_ip(spark):
    out = _redact_one(
        spark, "mail a.b+c@sub.example.org or +1-555-0123 from 192.168.0.1")
    assert out == "mail <EMAIL> or <PHONE> from <IP>"


def test_redact_email_before_ip(spark):
    # an address with a letter TLD is consumed whole by the email pass —
    # the IP pass never sees its dotted prefix
    assert _redact_one(spark, "x 10.0.0.1@example.com y") == "x <EMAIL> y"
    # numeric-TLD "addresses" are not emails; both quads redact as IPs
    assert _redact_one(spark, "x 10.0.0.1@4.3.2.1 y") == "x <IP>@<IP> y"


def test_redact_counts_multiple(spark):
    df = spark.createDataFrame([("a@b.co c@d.io",)], "t string")
    n = df.select(
        P.count_matches(F.col("t"), P.EMAIL_REGEX).alias("n")).first().n
    assert n == 2


def test_redact_clean_text_unchanged(spark):
    s = "no pii here just plain words and numbers 42"
    assert _redact_one(spark, s) == s


# ---------------------------------------------------------------------------
# pack_sequences — greedy next-fit
# ---------------------------------------------------------------------------

PACK_SCHEMA = "doc_id long, grp string, w long"


def _bins(rows, budget, by="grp"):
    def run(spark):
        df = spark.createDataFrame(rows, PACK_SCHEMA)
        out = pack_sequences(df, "w", "doc_id", budget, by=by)
        return {(r.grp, r.doc_id): r.bin_id for r in out.collect()}
    return run


def test_pack_next_fit_boundary(spark):
    # budget 10: [4,6] fills bin 0 exactly; 1 opens bin 1
    got = _bins([(1, "a", 4), (2, "a", 6), (3, "a", 1)], 10)(spark)
    assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1}


def test_pack_oversized_doc_gets_own_bin(spark):
    got = _bins([(1, "a", 3), (2, "a", 99), (3, "a", 3)], 10)(spark)
    assert got == {("a", 1): 0, ("a", 2): 1, ("a", 3): 2}


def test_pack_groups_independent(spark):
    got = _bins([(1, "a", 9), (2, "a", 9), (1, "b", 9), (2, "b", 1)],
                10)(spark)
    assert got[("a", 1)] == 0 and got[("a", 2)] == 1
    assert got[("b", 1)] == 0 and got[("b", 2)] == 0


def test_pack_no_group_single_scan(spark):
    df = spark.createDataFrame([(1, "x", 5), (2, "y", 5), (3, "z", 5)],
                               PACK_SCHEMA)
    out = pack_sequences(df, "w", "doc_id", 10, by=None)
    assert [r.bin_id for r in out.orderBy("doc_id").collect()] == [0, 0, 1]
    assert "__g" not in out.columns


def test_pack_order_is_by_order_col_not_input_order(spark):
    got = _bins([(3, "a", 6), (1, "a", 6), (2, "a", 4)], 10)(spark)
    # scan order 1,2,3: 6 then 4 fill bin 0; doc 3 opens bin 1
    assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1}


# ---------------------------------------------------------------------------
# Catalog-query semantics at smoke scale
# ---------------------------------------------------------------------------


def test_dedup_passages_keep_first(spark):
    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES
    out = QUERIES["dedup_passages"](spark, SF_SMOKE)
    rows = out.collect()
    assert all(0 <= r.n_kept <= r.n_passages for r in rows)
    # keep-first implies the corpus-wide kept total equals the number of
    # distinct passage hashes
    total_kept = sum(r.n_kept for r in rows)
    assert total_kept > 0


def test_shard_assignment_is_stable_partition(spark):
    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES
    a = QUERIES["shard_assignment"](spark, SF_SMOKE).collect()
    b = QUERIES["shard_assignment"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # positions within a shard are a contiguous 1..n ranking
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r.shard_id, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_contamination_excludes_benchmark_side(spark):
    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES
    out = QUERIES["contamination_ngram"](spark, SF_SMOKE).collect()
    assert all(r.doc_id % 29 != 0 for r in out)
    assert all(r.n_shared_shingles >= 1 and r.n_bench_docs >= 1 for r in out)


# ---------------------------------------------------------------------------
# Duplication diagnostics (operators/dupstats.py)
# ---------------------------------------------------------------------------


def test_dup_ngram_stats_hand_case(spark):
    """Shared 5-gram counts for both holders, unique doc scores 0, short
    doc reports 0 shingles with dup_frac 0."""
    from training_catalog.operators.dupstats import \
        dup_ngram_stats
    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, shared + " zeta"),             # 2 shingles, 1 shared
         (2, shared),                       # 1 shingle, shared
         (3, "one two three four five"),    # unique shingle
         (4, "too short")],                 # < 5 words
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_dup, r.dup_frac)
           for r in dup_ngram_stats(docs, n=5).collect()}
    assert got == {1: (2, 1, 0.5), 2: (1, 1, 1.0),
                   3: (1, 0, 0.0), 4: (0, 0, 0.0)}


def test_dup_ngram_identical_docs_fully_duplicated(spark):
    from training_catalog.operators.dupstats import \
        dup_ngram_stats
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame([(1, text), (2, text)],
                                 "doc_id long, text string")
    got = {r.doc_id: r.dup_frac for r in
           dup_ngram_stats(docs, n=5).collect()}
    assert got == {1: 1.0, 2: 1.0}


def test_dup_ngram_repeated_shingle_in_one_doc_not_dup(spark):
    """A shingle repeated only WITHIN one document is not cross-doc
    duplication (distinct-per-doc posting)."""
    from training_catalog.operators.dupstats import \
        dup_ngram_stats
    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e")], "doc_id long, text string")
    row = dup_ngram_stats(docs, n=5).first()
    assert row.n_dup == 0 and row.dup_frac == 0.0


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee 2022 shape)
# ---------------------------------------------------------------------------


def _spans(spark, tmp_path, rows):
    from training_catalog.plans import QUERIES

    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["substring_dedup_spans"](spark, str(tmp_path)).collect()
    return sorted((r.doc_id, r.span_start, r.span_end, r.n_dup_windows)
                  for r in out)


def test_substring_spans_cross_doc_shared_run(spark, tmp_path):
    """A 10-word run shared verbatim between two docs marks exactly the
    window positions that cover it — one span each, word-exact."""
    common = " ".join(f"c{i}" for i in range(10))
    a = " ".join(f"a{i}" for i in range(5)) + " " + common + " " \
        + " ".join(f"z{i}" for i in range(5))          # run at words 5..14
    b = "b0 b1 " + common + " b2 b3"                   # run at words 2..11
    got = _spans(spark, tmp_path, [(1, a), (2, b)])
    assert got == [(1, 5, 14, 1), (2, 2, 11, 1)]


def test_substring_spans_touching_windows_merge(spark, tmp_path):
    """Two duplicated windows whose spans touch (start gap == K) merge
    into ONE maximal span; a within-doc repeat counts as duplicated."""
    common = " ".join(f"c{i}" for i in range(10))
    c = "x " + common + " " + common + " y"   # dup windows at pos 1 and 11
    d = " ".join(f"d{i}" for i in range(10))
    dd = d + " " + d                          # internal repeat: pos 0, 10
    got = _spans(spark, tmp_path, [(3, c), (4, dd),
                                   (5, "u0 " + common + " u1")])
    assert (3, 1, 20, 2) in got               # merged: [1,10] ∪ [11,20]
    assert (4, 0, 19, 2) in got               # internal repeat merges too
    assert (5, 1, 10, 1) in got


def test_substring_spans_short_and_unique_docs_absent(spark, tmp_path):
    got = _spans(spark, tmp_path, [
        (6, "only nine words here so no window at all"),
        (7, " ".join(f"q{i}" for i in range(30)))])    # unique content
    assert got == []


# ---------------------------------------------------------------------------
# Semantic decontamination
# ---------------------------------------------------------------------------


def test_semantic_decontamination_verdicts_and_ties(spark, tmp_path):
    """Max cosine against the broadcast benchmark slice: an aligned
    vector is contaminated, an orthogonal one is not; an exact tie
    between two benchmark vectors resolves to the SMALLEST bench id."""
    from training_catalog.plans import QUERIES

    e = [1.0, 0.0, 0.0, 0.0]
    o = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, e, "b"), (29, e, "b"),      # benchmark: ids % 29 == 0
            (1, e, "p"),                    # sim 1.0 to BOTH 0 and 29
            (2, o, "p")]                    # orthogonal to the bench set
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string") \
        .write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {r.vec_id: (r.nearest_bench, r.max_sim, r.contaminated)
           for r in QUERIES["semantic_decontamination"](
               spark, str(tmp_path)).collect()}
    assert got == {1: (0, 1.0, True), 2: (0, 0.0, False)}


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) + length-bucketed batching
# ---------------------------------------------------------------------------


def test_winnow_guarantee_shared_run_detected(spark, tmp_path):
    """The winnowing guarantee: a shared run of ≥ W+K−1 = 11 words
    always yields ≥ 1 shared selected fingerprint, while docs with no
    shared k-gram never pair."""
    from training_catalog.plans import QUERIES

    run = " ".join(f"c{i}" for i in range(11))          # exactly W+K−1
    rows = [(1, " ".join(f"a{i}" for i in range(7)) + " " + run),
            (2, run + " " + " ".join(f"b{i}" for i in range(7))),
            (3, " ".join(f"z{i}" for i in range(20)))]  # disjoint
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {(r.id_a, r.id_b): r.n_shared
           for r in QUERIES["winnow_fingerprint_pairs"](
               spark, str(tmp_path)).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in k for k in got)


def test_winnow_rightmost_tie_and_density(spark, tmp_path):
    """An exact self-repeat selects IDENTICAL fingerprint sets for both
    docs (n_shared = the doc's full selection), and the selection is a
    strict subset of all k-gram hashes (winnowing actually thins)."""
    from training_catalog.plans import QUERIES

    text = " ".join(f"w{i % 13}" for i in range(40))    # repetitive soup
    rows = [(10, text), (11, text)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["winnow_fingerprint_pairs"](
        spark, str(tmp_path)).collect()
    assert len(got) == 1
    n_shared = got[0].n_shared
    n_kgrams_distinct = 13        # w0..w12 cycle → 13 distinct 8-grams
    assert 1 <= n_shared < n_kgrams_distinct


def test_winnow_pos_base_guard_raises_loudly(spark):
    """A document whose k-gram count exceeds the pos-packed key base
    must FAIL, not wrap (B−1−pos going negative decodes to h−1 —
    silently wrong fingerprints the shared-formula oracle can't catch).
    Exercised with a tiny base so the test corpus stays small."""
    import pytest

    from training_catalog.plans.training import \
        winnow_fingerprints

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(32)))],   # nk = 25 > B = 8
        "doc_id long, text string")
    with pytest.raises(Exception, match="winnow"):
        winnow_fingerprints(df, B=8).collect()


def test_winnow_long_doc_beyond_old_16bit_bound(spark, tmp_path):
    """Docs past 2^16 k-grams fingerprint correctly under the 2^23 pos
    base: a 12-word run shared between a ~66k-word doc (positions past
    the old 65,536 wrap point) and a short doc still pairs."""
    from training_catalog.plans import QUERIES

    run = " ".join(f"c{i}" for i in range(12))
    big = " ".join(f"u{i}" for i in range(66_000)) + " " + run
    rows = [(1, big), (2, run + " " + " ".join(f"b{i}" for i in range(7)))]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {(r.id_a, r.id_b): r.n_shared
           for r in QUERIES["winnow_fingerprint_pairs"](
               spark, str(tmp_path)).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1


def test_length_bucket_batches_coordinates(spark, tmp_path):
    """Buckets are n_tokens div 16; slots are dense 0..n−1 per bucket in
    (md5, id) order and batch_id = slot div 32 — verified by rebuilding
    the expected order in Python."""
    import hashlib

    from training_catalog.plans import QUERIES

    rows = [(i, " ".join("tok" for _ in range(5 + (i % 3) * 16)))
            for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: (r.n_tokens, r.bucket, r.batch_id, r.slot)
           for r in QUERIES["length_bucket_batches"](
               spark, str(tmp_path)).collect()}
    assert len(got) == 40
    by_bucket = {}
    for i in range(40):
        nt = 5 + (i % 3) * 16
        assert got[i][0] == nt and got[i][1] == nt // 16
        by_bucket.setdefault(nt // 16, []).append(i)
    for b, ids in by_bucket.items():
        order = sorted(ids, key=lambda d: (
            hashlib.md5(str(d).encode()).hexdigest(), d))
        for rank, d in enumerate(order):
            assert got[d][2:] == (rank // 32, rank % 32), (b, d)


def test_length_bucket_two_phase_equals_single_window(spark, tmp_path):
    """The served two-phase ranking (sub-rank within (bucket, md5-prefix
    salt) + broadcast cumulative offsets) is row-identical to the naive
    one-window-per-bucket plan — including on a corpus where one bucket
    holds ~¾ of the docs (the hot-bucket shape the two-phase plan
    exists for) and salts with ties across the prefix boundary."""
    from training_catalog.plans.hygiene import (
        _batch_coords, _batch_coords_single_window, _bucketed_docs)

    # 300 docs at one cap length (one hot bucket) + 100 spread docs
    rows = [(i, " ".join("tok" for _ in range(48))) for i in range(300)]
    rows += [(1000 + i, " ".join("tok" for _ in range(3 + i % 7 * 13)))
             for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    bucketed = _bucketed_docs(spark, str(tmp_path))
    two = _batch_coords(bucketed)
    one = _batch_coords_single_window(bucketed)
    assert two.schema == one.schema
    assert two.exceptAll(one).count() == 0
    assert one.exceptAll(two).count() == 0


def test_curriculum_stages_quartiles_and_ties(spark, tmp_path):
    """Stage cut-points are type-1 quantiles (score at rank ceil(j·n/4))
    and ties land in the LOWER stage: on 8 docs with known scores the
    stages split 2/2/2/2, and a corpus where half the docs tie on one
    score keeps every tied doc in the same stage."""
    from training_catalog.plans import QUERIES

    # scores are monotone in text length here: k 'a' words, len = 2k-1,
    # tok = k ≤ 64, non_punct = len → q = k*1e6 div 64 — strictly
    # increasing in k, so stages follow k order
    rows = [(i, "s", " ".join(["a"] * (4 * (i + 1)))) for i in range(8)]
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r.stage for r in QUERIES["curriculum_stages"](
        spark, str(tmp_path)).collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3, 6: 4, 7: 4}

    tied = [(i, "s", "b b b") for i in range(6)] + \
           [(10, "s", " ".join(["c"] * 60)), (11, "s", " ".join(["c"] * 60))]
    spark.createDataFrame(tied, "doc_id long, source string, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r.stage for r in QUERIES["curriculum_stages"](
        spark, str(tmp_path)).collect()}
    assert len({got[i] for i in range(6)}) == 1      # all ties together
    assert got[10] == got[11] == 4


def test_chunk_documents_coverage_and_overlap(spark, tmp_path):
    """Chunk invariants: starts are multiples of the stride, every
    token is covered, consecutive chunks overlap by C−S, the tail chunk
    may be short but never empty, a short doc yields exactly one chunk,
    and a token-less doc yields none."""
    from training_catalog.plans import QUERIES
    from training_catalog.plans.hygiene import (
        _CHUNK_STRIDE, _CHUNK_TOKENS)

    rows = [(1, " ".join(f"w{i}" for i in range(100))),   # multi-chunk
            (2, " ".join(f"v{i}" for i in range(10))),    # single short
            (3, ""), (4, "   ")]                          # token-less
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["chunk_documents"](spark, str(tmp_path)).collect()
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    # doc 1: 100 tokens, C=32, S=24 → 1 + ceil(68/24) = 4 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.start_tok for r in c1] == [0, 24, 48, 72]
    assert [r.n_tokens for r in c1] == [32, 32, 32, 28]
    assert c1[-1].start_tok + c1[-1].n_tokens == 100     # tail covered
    assert _CHUNK_TOKENS - _CHUNK_STRIDE == 8            # overlap pin
    # doc 2: 10 tokens < C → exactly one (short) chunk
    assert [(r.start_tok, r.n_tokens) for r in by_doc[2]] == [(0, 10)]


def test_line_dedup_removes_boilerplate_and_reassembles(spark, tmp_path):
    """CCNet line dedup vectors: a normalized-identical line ("page 3
    of 7" vs "page 4 of 9" — digits fold to 0) appearing 3× corpus-wide
    is boilerplate and is removed from EVERY document; surviving lines
    reassemble in original order (md5-pinned); a doc losing all its
    lines rebuilds to the empty string."""
    import hashlib

    from training_catalog.plans import QUERIES
    from training_catalog.plans.hygiene import _LINE_WORDS

    assert _LINE_WORDS == 8
    boiler = ["page 3 of 7 click here to close",
              "page 4 of 9 click here to close",
              "page 5 of 2 click here to close"]   # one normalized line
    keep_a = "alpha beta gamma delta epsilon zeta eta theta"
    keep_b = "iota kappa lambda mu nu xi omicron pi"
    rows = [
        (1, f"{keep_a} {boiler[0]} {keep_b}"),   # middle line removed
        (2, f"{boiler[1]} {keep_a}"),            # leading line removed
        (3, boiler[2]),                          # rebuilds to ""
        (4, keep_b),                             # untouched
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in
           QUERIES["line_dedup_docs"](spark, str(tmp_path)).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert (got[1].n_lines, got[1].n_removed) == (3, 1)
    assert got[1].clean_md5 == md5(f"{keep_a} {keep_b}")   # order kept
    assert (got[2].n_lines, got[2].n_removed) == (2, 1)
    assert got[2].clean_md5 == md5(keep_a)
    assert (got[3].n_lines, got[3].n_removed) == (1, 1)
    assert got[3].clean_len == 0 and got[3].clean_md5 == md5("")
    assert (got[4].n_lines, got[4].n_removed) == (1, 0)
    assert got[4].clean_md5 == md5(keep_b)


# ---------------------------------------------------------------------------
# Published quality-rule sets — crafted boundary vectors (round 12).
# These pin the corrected Gopher/C4/FineWeb semantics on exactly the
# cases the round-11 advisory flagged; the DuckDB oracle shares each
# engine-side rule, so parity alone can NEVER catch a shared deviation —
# these hand-pinned outcomes are the independent referee.
# ---------------------------------------------------------------------------


def _quality_rows(spark, tmp_path, query, docs):
    """Run a quality catalog query over crafted docs, one source per
    doc so the per-source rollup yields one row per vector."""
    from training_catalog.plans import QUERIES

    rows = [(i, text, "en", src, len(text))
            for i, (src, text) in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    return {r.source: r for r in QUERIES[query](spark, str(tmp_path)).collect()}


def _gopher_base(n=100):
    """n words drawn from the Table A1 stop list: every rule passes with
    room (mean len 3.0, all-alpha, all-stopword)."""
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    return [stops[i % 8] for i in range(n)]


def test_gopher_symbol_ratios_are_per_symbol(spark, tmp_path):
    """Table A1 applies the 0.1 symbol-to-word threshold to '#' and '…'
    SEPARATELY: 0.06 hash + 0.06 ellipsis passes (the pre-round-12
    combined ratio failed it), while 0.12 of either alone fails."""
    ws = _gopher_base(100)
    both = list(ws)
    for i in range(6):
        both[2 * i] = both[2 * i] + "#"          # 6 hashes  → ratio 0.06
        both[2 * i + 1] = both[2 * i + 1] + "..."  # 6 ellipses → 0.06
    hash_heavy = list(ws)
    for i in range(12):                            # 12 hashes → ratio 0.12
        hash_heavy[i] = hash_heavy[i] + "#"
    got = _quality_rows(
        spark, tmp_path, "gopher_quality_docs",
        [("both06", " ".join(both) + " end"),
         ("hash12", " ".join(hash_heavy) + " end")])
    assert (got["both06"].n_pass, got["both06"].fail_symbol) == (1, 0)
    assert (got["hash12"].n_pass, got["hash12"].fail_symbol) == (0, 1)


def test_gopher_line_rules_pass_at_exact_threshold(spark, tmp_path):
    """Gopher removes docs STRICTLY above 90% bullet / 30% ellipsis
    lines: exactly-at-threshold docs pass, one line more fails."""
    # 4-char stop words keep mean word length safely ≥ 3 even though
    # split-on-space merges each "word\n-" pair across line boundaries
    filler = " ".join(["that", "have", "with"][i % 3] for i in range(60))
    bullet9 = "\n".join(["- " + filler] * 9 + [filler])      # 9/10 = 90%
    bullet10 = "\n".join(["- " + filler] * 10)               # 100%
    ell3 = "\n".join([filler + "..."] * 3 + [filler] * 7)    # 3/10 = 30%
    ell4 = "\n".join([filler + "..."] * 4 + [filler] * 6)    # 40%
    got = _quality_rows(
        spark, tmp_path, "gopher_quality_docs",
        [("b9", bullet9), ("b10", bullet10),
         ("e3", ell3), ("e4", ell4)])
    assert got["b9"].fail_bullet == 0 and got["b9"].n_pass == 1
    assert got["b10"].fail_bullet == 1 and got["b10"].n_pass == 0
    assert got["e3"].fail_ellipsis == 0 and got["e3"].n_pass == 1
    assert got["e4"].fail_ellipsis == 1 and got["e4"].n_pass == 0


def test_c4_javascript_is_word_boundary(spark, tmp_path):
    """§2.2 removes lines with the WORD Javascript: 'javascripting' or a
    URL path segment keeps the line; the bare word (any case) drops it."""
    keep1 = "javascripting is a fine hobby for some people."
    keep2 = "see https://example.org/not-javascripty/page for more details."
    drop1 = "please enable JavaScript to view this page."
    drop2 = "this site requires javascript, said the banner."
    text = "\n".join([keep1, keep2, drop1, drop2])
    got = _quality_rows(spark, tmp_path, "c4_quality_docs",
                        [("js", text)])
    # 2 of 4 lines kept; doc itself fails the ≥3-kept-lines rule
    assert (got["js"].n_lines, got["js"].n_kept_lines) == (4, 2)
    assert (got["js"].n_kept_docs, got["js"].n_docs_short) == (0, 1)


def test_fineweb_dup_chars_count_repeats_only(spark, tmp_path):
    """datatrove find_duplicates counts (k−1)·len — repeat occurrences
    only — over len(text) INCLUDING newlines.  A 30-char line occurring
    twice in a ~4000-char doc yields dup_chars=30 (ratio ≤ 0.01,
    passes); the pre-round-12 k·len convention read 60 and failed it."""
    dup = "x" * 29 + "."                       # 30 chars, ends in punct
    fill = [("f%03d " % i) * 9 + "tail." for i in range(64)]  # 50c each
    lines = [dup] + fill[:32] + [dup] + fill[32:]
    text = "\n".join(lines)
    n = len(text)
    assert 100 * 30 <= n < 100 * 60, n         # new passes, old failed
    got = _quality_rows(spark, tmp_path, "fineweb_quality_docs",
                        [("dup2", text)])
    assert (got["dup2"].fail_dup_line_chars, got["dup2"].n_pass) == (0, 1)


def test_fineweb_dup_chars_fail_above_threshold(spark, tmp_path):
    """Same doc with the line tripled: dup_chars=(3−1)·30=60 → ratio
    above 0.01 on a <6000-char doc → fails rule 3 only."""
    dup = "y" * 29 + "."
    fill = [("g%03d " % i) * 9 + "tail." for i in range(64)]
    lines = [dup, dup] + fill[:32] + [dup] + fill[32:]
    text = "\n".join(lines)
    assert 100 * 60 > len(text)
    got = _quality_rows(spark, tmp_path, "fineweb_quality_docs",
                        [("dup3", text)])
    assert (got["dup3"].fail_dup_line_chars, got["dup3"].n_pass) == (1, 0)


# ---------------------------------------------------------------------------
# Gopher repetition rules (round 12) — crafted boundary vectors.  As with
# the quality-rule tests above, the DuckDB oracle shares every rule, so
# these hand-pinned outcomes are the independent referee.
# ---------------------------------------------------------------------------


def test_gopher_repetition_dup_line_fraction_boundary(spark, tmp_path):
    """Gopher removes docs with dup-line fraction STRICTLY above 0.30:
    a 10-line doc where one line occurs 4 times has 3 repeat
    occurrences (find_duplicates counts k−1) = exactly 0.30 → passes;
    5 occurrences (0.40) fails only the dup-line rule.  Lines are
    single words with no spaces, so the word stream is one token and
    every n-gram signal is trivially zero."""
    dup = "qqqqq"
    fill = ["uniquefillerlineno%02dxxxxx" % i for i in range(8)]  # 25 ch
    ten = lambda k: "\n".join([dup] * k + fill[:10 - k])  # noqa: E731
    got = _quality_rows(
        spark, tmp_path, "gopher_repetition_docs",
        [("at30", ten(4)), ("at40", ten(5))])
    assert (got["at30"].n_pass, got["at30"].fail_dup_lines) == (1, 0)
    assert (got["at40"].n_pass, got["at40"].fail_dup_lines) == (0, 1)
    # 4 repeats x 5 chars = 20 dup chars against L = 159: under 0.20, so
    # the char-fraction twin rule must NOT fire alongside
    assert got["at40"].fail_dup_line_chars == 0


def test_gopher_repetition_top_bigram_boundary(spark, tmp_path):
    """Top-2-gram char fraction ≤ 0.20 passes AT the threshold: 'aa bb'
    ×10 (value 10·5 = 50 chars) against total length exactly 250 passes
    (5·50 = 250 ≤ L); shaving one character off the padding word
    (L = 249) fails only the top-n-gram family."""
    units = " ".join("aa bb u%02d" % i for i in range(1, 11))  # 99 chars
    doc_pass = units + " " + "z" * 150                          # L = 250
    doc_fail = units + " " + "z" * 149                          # L = 249
    assert len(doc_pass) == 250 and len(doc_fail) == 249
    got = _quality_rows(
        spark, tmp_path, "gopher_repetition_docs",
        [("at20", doc_pass), ("above", doc_fail)])
    assert (got["at20"].n_pass, got["at20"].fail_top_ngram) == (1, 0)
    assert (got["above"].n_pass, got["above"].fail_top_ngram) == (0, 1)
    assert got["above"].fail_dup_ngram == 0


def test_gopher_repetition_dup_ngram_family(spark, tmp_path):
    """A 40-word all-distinct sequence written twice repeats every
    internal 5..10-gram once: the (k−1)·len repeat mass fails the
    dup-n-gram family while the top-2/3/4-gram values (count 2, short
    grams) stay far below their thresholds.  The same sequence followed
    by 40 fresh words passes everything."""
    s = " ".join("a%d" % i if i >= 10 else "b%d" % i for i in range(40))
    t = " ".join("c%d" % i if i >= 10 else "d%d" % i for i in range(40))
    got = _quality_rows(
        spark, tmp_path, "gopher_repetition_docs",
        [("rep", s + " " + s), ("fresh", s + " " + t)])
    assert (got["rep"].n_pass, got["rep"].fail_dup_ngram) == (0, 1)
    assert got["rep"].fail_top_ngram == 0
    assert (got["fresh"].n_pass, got["fresh"].fail_dup_ngram) == (1, 0)


def test_gopher_repetition_matches_first_principles(spark, tmp_path):
    """Full-corpus differential: every repetition signal recomputed in
    plain python (Counter-based find_duplicates, explicit top-gram tie
    rule, repeat-adjacency dup-gram mass) from raw text — independent
    of both engines' fold/subquery machinery — and the per-source
    pass/fail rollup must match exactly on the smoke corpus."""
    from collections import Counter

    import duckdb

    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES

    rows = duckdb.sql(
        f"SELECT source, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchall()

    def dup_stats(elems):
        cnt = Counter(elems)
        el = sum(c - 1 for c in cnt.values() if c > 1)
        ch = sum((c - 1) * len(e) for e, c in cnt.items() if c > 1)
        return el, ch

    def grams(ws, n):
        return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]

    def top_val(gs):
        if not gs:
            return 0
        cnt = Counter(gs)
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        return len(best[0]) * best[1]

    def doc_ok(text):
        ws = [w for w in text.split(" ") if w]
        lc = len(text)
        lines, paras = text.split("\n"), text.split("\n\n")
        dl_el, dl_ch = dup_stats(lines)
        dp_el, dp_ch = dup_stats(paras)
        o1 = 10 * dl_el <= 3 * len(lines)
        o2 = 10 * dp_el <= 3 * len(paras)
        o3 = 5 * dl_ch <= lc
        o4 = 5 * dp_ch <= lc
        t2, t3, t4 = (top_val(grams(ws, n)) for n in (2, 3, 4))
        o5 = (5 * t2 <= lc) and (50 * t3 <= 9 * lc) \
            and (25 * t4 <= 4 * lc)
        d = {n: dup_stats(grams(ws, n))[1] for n in range(5, 11)}
        o6 = ((20 * d[5] <= 3 * lc) and (50 * d[6] <= 7 * lc)
              and (100 * d[7] <= 13 * lc) and (25 * d[8] <= 3 * lc)
              and (100 * d[9] <= 11 * lc) and (10 * d[10] <= lc))
        return (o1, o2, o3, o4, o5, o6)

    exp = {}
    for source, text in rows:
        oks = doc_ok(text)
        agg = exp.setdefault(source, [0] * 8)
        agg[0] += 1
        agg[1] += all(oks)
        for i, ok in enumerate(oks):
            agg[2 + i] += not ok
    got = {r["source"]: r for r in QUERIES["gopher_repetition_docs"](
        spark, SF_SMOKE).collect()}
    assert set(got) == set(exp)
    cols = ("n_docs", "n_pass", "fail_dup_lines", "fail_dup_paras",
            "fail_dup_line_chars", "fail_dup_para_chars",
            "fail_top_ngram", "fail_dup_ngram")
    for s, agg in exp.items():
        assert tuple(got[s][c] for c in cols) == tuple(agg), s
