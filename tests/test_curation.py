"""End-to-end corpus curation pipeline (pipeline/curation.py): every
drop reason exercised on a hand corpus, precedence order, and serving
coordinates.  (The catalog query also hash-matches its composed DuckDB
oracle in test_oracle_parity.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from training_catalog.pipeline.curation import curate

GOOD = ("the quick brown fox jumps over the lazy dog and runs far "
        "beyond the quiet green hills toward a bright new morning")
BENCH_TEXT = ("sterling canyon voyage under amber skies while seven "
              "pilgrims wander")


def _corpus(spark):
    # ids chosen around BENCH_MOD=29: 29·k → benchmark
    rows = [
        (29, "src", BENCH_TEXT),                      # benchmark slice
        (1, "src", GOOD),                             # kept
        (2, "src", GOOD),                             # exact dup of 1
        (3, "src", "!!! ??? ,,,"),                    # quality drop
        # ≥ 24 alpha tokens each: the quality gate scores
        # min(n_tok, 64)/64 × (1 − punct_ratio), so short texts fail it
        (4, "src", "he saw sterling canyon voyage under amber skies "
                   "yesterday and wrote every detail down in his worn "
                   "journal before the long night train departed "
                   "slowly"),                         # contaminated (5-gram)
        (5, "src", "an entirely distinct sentence with plenty of "
                   "ordinary words to pass the quality gate easily and "
                   "nothing shared with the benchmark slice at all in "
                   "any window"),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, "
                                       "text string")


def test_curate_all_drop_reasons(spark):
    got = {r.doc_id: (r.kept, r.drop_reason)
           for r in curate(_corpus(spark)).collect()}
    assert got[29] == (False, "benchmark")
    assert got[1] == (True, None)
    assert got[2] == (False, "duplicate")      # keep-first: 1 wins
    assert got[3] == (False, "quality")
    assert got[4] == (False, "contaminated")
    assert got[5] == (True, None)


def test_curate_coordinates_only_for_kept(spark):
    rows = {r.doc_id: r for r in curate(_corpus(spark)).collect()}
    kept = [r for r in rows.values() if r.kept]
    dropped = [r for r in rows.values() if not r.kept]
    assert all(r.shard_id is not None and r.pos >= 1 for r in kept)
    assert all(r.shard_id is None and r.pos is None for r in dropped)
    # positions are dense per shard
    by_shard = {}
    for r in kept:
        by_shard.setdefault(r.shard_id, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_curate_precedence_quality_before_contaminated(spark):
    """A low-quality doc that ALSO shares a benchmark 5-gram reports
    'quality' (precedence), not 'contaminated'."""
    docs = _corpus(spark).union(
        _corpus(spark).sparkSession.createDataFrame(
            [(6, "src", "sterling canyon voyage under amber "
                        + "!?,;:" * 40)],
            "doc_id long, source string, text string"))
    got = {r.doc_id: r.drop_reason for r in curate(docs).collect()}
    assert got[6] == "quality"


def test_curate_probe_restriction_is_output_identical(spark):
    """The decontamination probe covers ONLY the surviving pool
    (quality-passing first-of-digest): a contaminated DUPLICATE still
    reports 'duplicate' (precedence masks the contamination verdict it
    no longer receives), and the full verdict table equals the
    all-non-benchmark-probe plan's on a corpus where the restriction
    bites — a dup of a contaminated doc plus a contaminated
    quality-fail."""
    extra = _corpus(spark).sparkSession.createDataFrame(
        [(7, "src", "he saw sterling canyon voyage under amber skies "
                    "yesterday and wrote every detail down in his worn "
                    "journal before the long night train departed "
                    "slowly"),            # exact dup of contaminated #4
         (8, "src", "sterling canyon voyage under amber "
                    + "!?,;:" * 40)],     # contaminated quality-fail
        "doc_id long, source string, text string")
    got = {r.doc_id: (r.kept, r.drop_reason)
           for r in curate(_corpus(spark).union(extra)).collect()}
    assert got[4] == (False, "contaminated")
    assert got[7] == (False, "duplicate")   # masked, not 'contaminated'
    assert got[8] == (False, "quality")     # masked, not 'contaminated'
    assert got[1] == (True, None) and got[5] == (True, None)


def test_curate_partitioning_independence(spark):
    docs = _corpus(spark)
    a = sorted(map(tuple, curate(docs).collect()))
    b = sorted(map(tuple, curate(docs.repartition(7, "doc_id")).collect()))
    assert a == b
