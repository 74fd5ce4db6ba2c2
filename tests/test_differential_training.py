"""Differential fuzz for the round-6 training operators: random small
corpora (odd shapes the fixed sf0.01 parity data never hits — empty
texts, one-word docs, unicode, duplicate ids' worth of identical
content) run through the ENGINE and through the same catalog ORACLE SQL
in DuckDB over a registered temp table.  Fixed seeds — failures
reproduce."""

from __future__ import annotations

import random
import string

import duckdb
import pytest

from training_catalog.plans import ORACLES

WORDS = ["alpha", "beta", "gamma", "delta", "zug", "год", "x1",
         "the", "of", "and", "", "a", "Ωmega", "beta"]


def _random_docs(seed: int, n: int):
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        kind = rnd.random()
        if kind < 0.1:
            text = ""                              # token-less
        elif kind < 0.2:
            text = rnd.choice(string.punctuation) * rnd.randint(1, 30)
        elif kind < 0.3:
            text = rows[rnd.randrange(len(rows))][2] if rows else "dup"
        else:
            text = " ".join(rnd.choice(WORDS)
                            for _ in range(rnd.randint(1, 40)))
        rows.append((i, f"src{i % 3}", text,
                     rnd.choice(["en", "de", "zh"]), len(text)))
    return rows


def _compare(spark, rows):
    import pandas as pd

    sdf = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string, "
              "n_chars long")
    # catalog queries read parquet paths, so each test drives the
    # OPERATOR directly and runs the catalog's oracle SQL over the same
    # rows registered as the documents view
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        rows, columns=["doc_id", "source", "text", "lang", "n_chars"]))
    return sdf, con


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_lm_perplexity_fuzz(spark, seed):
    from training_catalog.operators.lm_score import \
        bigram_logprob
    rows = _random_docs(seed, 40)
    sdf, con = _compare(spark, rows)
    got = sorted(map(tuple, bigram_logprob(sdf).collect()))
    want = sorted(map(tuple,
                      con.execute(ORACLES["lm_perplexity_docs"])
                      .fetchall()))
    assert got == want


@pytest.mark.parametrize("seed", [5, 17])
def test_dup_ngram_fuzz(spark, seed):
    from training_catalog.operators.dupstats import \
        dup_ngram_stats
    rows = _random_docs(seed, 40)
    sdf, con = _compare(spark, rows)
    got = sorted(map(tuple, dup_ngram_stats(sdf, n=5).collect()))
    want = sorted(map(tuple,
                      con.execute(ORACLES["dup_ngram_docs"]).fetchall()))
    assert got == want


@pytest.mark.parametrize("seed", [7, 29])
def test_dsir_fuzz(spark, seed):
    from pyspark.sql import functions as F

    from training_catalog.operators.dsir import dsir_select
    rows = _random_docs(seed, 40)
    sdf, con = _compare(spark, rows)
    got = sorted(map(tuple,
                     dsir_select(sdf, F.col("lang") == "en",
                                 k=100).collect()))
    want = sorted(map(tuple,
                      con.execute(ORACLES["dsir_select_docs"])
                      .fetchall()))
    assert got == want


@pytest.mark.parametrize("seed", [3, 41])
def test_curate_fuzz(spark, seed):
    from training_catalog.pipeline.curation import curate
    rows = _random_docs(seed, 60)
    sdf, con = _compare(spark, rows)
    got = sorted(map(tuple, curate(sdf).collect()))
    want = sorted(map(tuple,
                      con.execute(ORACLES["curate_corpus"]).fetchall()))
    assert got == want


# ---------------------------------------------------------------------------
# Round-7 operators: these catalog queries read parquet via _t, so the
# fuzz writes the random rows to a tmp table dir and drives the QUERY,
# comparing against its oracle over the same rows.
# ---------------------------------------------------------------------------


def _run_query(spark, tmp_path, table, rows, schema, columns, qname):
    import pandas as pd

    from training_catalog.plans import QUERIES

    spark.createDataFrame(rows, schema).write.mode("overwrite") \
        .parquet(str(tmp_path / f"{table}.parquet"))
    got = sorted(map(tuple,
                     QUERIES[qname](spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.register(table, pd.DataFrame(rows, columns=columns))
    want = sorted(map(tuple, con.execute(ORACLES[qname]).fetchall()))
    return got, want


_DOC_SCHEMA = ("doc_id long, source string, text string, lang string, "
               "n_chars long")
_DOC_COLS = ["doc_id", "source", "text", "lang", "n_chars"]


@pytest.mark.parametrize("seed", [13, 31])
def test_substring_spans_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS,
                           "substring_dedup_spans")
    assert got == want


@pytest.mark.parametrize("seed", [19, 43])
def test_winnow_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS,
                           "winnow_fingerprint_pairs")
    assert got == want


@pytest.mark.parametrize("seed", [2, 53])
def test_length_buckets_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS,
                           "length_bucket_batches")
    assert got == want


@pytest.mark.parametrize("seed", [59])
def test_multimodal_near_dup_groups_fuzz(spark, tmp_path, seed):
    # sparse non-contiguous ids: partial 4-blocks everywhere
    rnd = random.Random(seed)
    ids = sorted(rnd.sample(range(0, 400), 60))
    rows = [(i, "s", "t", "en", 1) for i in ids]
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS,
                           "multimodal_near_dup_groups")
    assert got == want


@pytest.mark.parametrize("seed", [61, 71])
def test_semantic_decontamination_fuzz(spark, tmp_path, seed):
    rnd = random.Random(seed)
    rows = [(i, [float(rnd.randint(-2, 2)) for _ in range(8)],
             rnd.choice(["a", "b"]))
            for i in range(60)]
    # guard the all-zero vector (cosine 0/0): give it one component
    rows = [(i, v if any(v) else [1.0] + v[1:], lab)
            for i, v, lab in rows]
    got, want = _run_query(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label string",
        ["vec_id", "embedding", "label"], "semantic_decontamination")
    assert got == want


@pytest.mark.parametrize("seed", [67, 73])
def test_scd2_fuzz(spark, tmp_path, seed):
    import datetime

    rnd = random.Random(seed)
    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = [(i, t0 + datetime.timedelta(seconds=rnd.randint(0, 50)),
             rnd.randint(1, 8), "e", 1.0, "{}")
            for i in range(80)]                      # dense ts ties
    got, want = _run_query(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
        "scd2_user_history")
    assert got == want


@pytest.mark.parametrize("seed", [79, 83])
def test_zorder_fuzz(spark, tmp_path, seed):
    import datetime

    rnd = random.Random(seed)
    # domain precondition: custkey ≥ 0 and orderdate ≥ 1992-01-01 (the
    # TPC-H domain); negative inputs would diverge on % vs bitwiseAND
    rows = [(i, rnd.randint(0, 200000),
             datetime.date(1992, 1, 1)
             + datetime.timedelta(days=rnd.randint(0, 3000)))
            for i in range(100)]
    got, want = _run_query(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderdate date",
        ["o_orderkey", "o_custkey", "o_orderdate"], "zorder_file_stats")
    assert got == want


@pytest.mark.parametrize("seed", [89, 97])
def test_curriculum_stages_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "curriculum_stages")
    assert got == want


@pytest.mark.parametrize("seed", [101])
def test_snapshot_diff_fuzz(spark, tmp_path, seed):
    rnd = random.Random(seed)
    rows = [(i, rnd.choice("OFP"), round(rnd.uniform(1, 9999), 2))
            for i in rnd.sample(range(1, 500), 80)]
    got, want = _run_query(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderstatus string, o_totalprice double",
        ["o_orderkey", "o_orderstatus", "o_totalprice"], "snapshot_diff")
    assert got == want
    kinds = {c for _, c in got}
    assert kinds == {"added", "removed", "changed"}


@pytest.mark.parametrize("seed", [103, 127])
def test_webcorpus_extract_and_mojibake_fuzz(spark, tmp_path, seed):
    # random text includes markup-ish punctuation runs, unicode, empty
    # docs — the extraction/repair chains must agree with the oracle on
    # ALL of them, not just clean word-soup
    rows = _random_docs(seed, 50)
    for qname in ("html_extract_text", "mojibake_stats"):
        got, want = _run_query(spark, tmp_path, "documents", rows,
                               _DOC_SCHEMA, _DOC_COLS, qname)
        assert got == want, qname


@pytest.mark.parametrize("seed", [109])
def test_url_canonical_fuzz(spark, tmp_path, seed):
    # sparse non-contiguous doc_ids: every synthesis modulus hits
    # partial residue classes
    rnd = random.Random(seed)
    ids = sorted(rnd.sample(range(0, 3000), 120))
    rows = [(i, "s", "t", "en", 1) for i in ids]
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "url_canonical_stats")
    assert got == want


# ---------------------------------------------------------------------------
# Streaming twins: randomized corpora forced through 3 micro-batches
# (one file per trigger) must still drain to the exact batch oracle —
# cross-batch digest/fingerprint state under odd shapes (empty texts,
# punctuation runs, cross-batch duplicates).
# ---------------------------------------------------------------------------


def _stream_src(spark, tmp_path, rows, n_files=3):
    d = tmp_path / "src"
    d.mkdir()
    step = (len(rows) + n_files - 1) // n_files
    for k in range(n_files):
        chunk = rows[k * step:(k + 1) * step]
        if chunk:
            spark.createDataFrame(chunk, _DOC_SCHEMA).coalesce(1) \
                .write.mode("append").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("seed", [113, 131])
def test_stream_curate_fuzz(spark, tmp_path, seed):
    import pandas as pd

    from training_catalog.streaming.documents import \
        streaming_curation_stats

    rows = _random_docs(seed, 60)
    src = _stream_src(spark, tmp_path, rows)
    got = sorted(map(tuple, streaming_curation_stats(
        spark, src, max_files_per_trigger=1).collect()))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=_DOC_COLS))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_curate_stats"])
                      .fetchall()))
    assert got == want


@pytest.mark.parametrize("seed", [137])
def test_stream_winnow_fuzz(spark, tmp_path, seed):
    import pandas as pd

    from training_catalog.streaming.documents import \
        streaming_winnow_pairs

    rows = _random_docs(seed, 45)
    src = _stream_src(spark, tmp_path, rows)
    got = sorted(map(tuple, streaming_winnow_pairs(
        spark, src, max_files_per_trigger=1).collect()))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=_DOC_COLS))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_winnow_pairs"])
                      .fetchall()))
    assert got == want


@pytest.mark.parametrize("seed", [139, 149])
def test_chunk_documents_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "chunk_documents")
    assert got == want


@pytest.mark.parametrize("seed", [151])
def test_bloom_decontaminate_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 60)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "bloom_decontaminate")
    assert got == want


@pytest.mark.parametrize("seed", [157, 163])
def test_blocklist_and_script_fuzz(spark, tmp_path, seed):
    # the WORDS pool includes cyrillic/greek tokens and empty strings —
    # both per-row chains must agree with the oracle on all of them
    rows = _random_docs(seed, 50)
    for qname in ("blocklist_filter_docs", "script_stats"):
        got, want = _run_query(spark, tmp_path, "documents", rows,
                               _DOC_SCHEMA, _DOC_COLS, qname)
        assert got == want, qname


@pytest.mark.parametrize("seed", [167, 173])
def test_lakehouse_maintenance_fuzz(spark, tmp_path, seed):
    import datetime

    rnd = random.Random(seed)
    rows = [(i, rnd.randint(0, 200000),
             datetime.date(1992, 1, 1)
             + datetime.timedelta(days=rnd.randint(0, 3000)))
            for i in range(100)]
    for qname in ("file_skipping_stats", "compaction_plan"):
        got, want = _run_query(
            spark, tmp_path, "orders", rows,
            "o_orderkey long, o_custkey long, o_orderdate date",
            ["o_orderkey", "o_custkey", "o_orderdate"], qname)
        assert got == want, qname


@pytest.mark.parametrize("seed", [179, 181])
def test_dataset_audit_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    for qname in ("oov_rate_docs", "source_overlap_matrix"):
        got, want = _run_query(spark, tmp_path, "documents", rows,
                               _DOC_SCHEMA, _DOC_COLS, qname)
        assert got == want, qname


@pytest.mark.parametrize("seed", [191, 193])
def test_lang_id_and_line_dedup_fuzz(spark, tmp_path, seed):
    # round-9 crawl stages on the odd-shape corpus: the WORDS pool's
    # cyrillic/greek tokens stress the CHARACTER-level trigram split
    # (Spark substring/split('') vs DuckDB substr/len must both count
    # codepoints) and line_dedup's lower()+digit-fold normalization;
    # empty and punctuation-only texts exercise the below-3-chars and
    # zero-word guards on both sides
    rows = _random_docs(seed, 60)
    for qname in ("lang_id_confusion", "line_dedup_docs"):
        got, want = _run_query(spark, tmp_path, "documents", rows,
                               _DOC_SCHEMA, _DOC_COLS, qname)
        assert got == want, qname


@pytest.mark.parametrize("seed", [7, 61])
def test_bpe_pair_stats_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 50)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "bpe_pair_stats")
    assert got == want


@pytest.mark.parametrize("seed", [3, 41])
def test_pmi_collocations_fuzz(spark, tmp_path, seed):
    # collocations need repeated bigrams: longer docs over a small vocab
    rnd = random.Random(seed)
    small = ["alpha", "beta", "gamma", "год", "x1", "a"]
    rows = [(i, f"src{i % 2}",
             " ".join(rnd.choice(small) for _ in range(rnd.randint(0, 60))),
             "en", 0) for i in range(40)]
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "pmi_collocations")
    assert got == want


@pytest.mark.parametrize("seed", [29, 47])
def test_split_holdout_fuzz(spark, tmp_path, seed):
    rows = _random_docs(seed, 80)
    got, want = _run_query(spark, tmp_path, "documents", rows,
                           _DOC_SCHEMA, _DOC_COLS, "split_holdout_stats")
    assert got == want


@pytest.mark.parametrize("seed", [9, 77])
def test_k_anonymity_fuzz(spark, tmp_path, seed):
    """Random customers with NULL quasi-identifiers and negative
    balances — the sentinel coalesce and the shift-then-div banding
    (Spark truncating DIV vs DuckDB flooring //) must agree on every
    equivalence class."""
    rnd = random.Random(seed)
    rows = []
    for i in range(120):
        rows.append((
            i,
            f"Customer#{i}",
            rnd.choice([None, 0, 1, 2, 7]),
            rnd.choice([None, -999.99, -100000.01, 0.0, 999.99,
                        rnd.uniform(-5000, 5000)]),
            rnd.choice([None, "AUTOMOBILE", "BUILDING", "MACHINERY"])))
    schema = ("c_custkey long, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    got, want = _run_query(spark, tmp_path, "customer", rows,
                           schema, cols, "k_anonymity_stats")
    assert got == want


@pytest.mark.parametrize("seed", [15, 83])
def test_l_diversity_fuzz(spark, tmp_path, seed):
    rnd = random.Random(seed)
    rows = [(i, f"Customer#{i}",
             rnd.choice([None, 0, 1, 5]),
             rnd.choice([None, -999.99, 0.0, rnd.uniform(-3000, 3000)]),
             rnd.choice([None, "AUTOMOBILE", "BUILDING"]))
            for i in range(100)]
    schema = ("c_custkey long, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    got, want = _run_query(spark, tmp_path, "customer", rows,
                           schema, cols, "l_diversity_stats")
    assert got == want
