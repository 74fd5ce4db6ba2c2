"""BM25 retrieval operator (operators/bm25.py) behavior tests.

Cross-engine exactness of the ``exact`` variant is covered by
``test_oracle_parity.py::test_query_matches_oracle[bm25_topk_docs]``; this
module pins the ranking semantics themselves.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from training_catalog.operators.bm25 import bm25_topk


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([
        (1, "snow alpine resort lift"),
        (2, "snow snow snow snow snow snow snow snow"),
        (3, "alpine chair lift station lift"),
        (4, "weather report rain city traffic"),
        (5, "alpine snow"),
    ], "doc_id long, text string")


def _queries(spark, *texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)],
        "query_id int, query_text string")


@pytest.mark.parametrize("variant", ["exact", "log"])
def test_relevant_docs_outrank_irrelevant(spark, corpus, variant):
    out = bm25_topk(corpus, _queries(spark, "alpine snow"), k=5,
                    variant=variant).collect()
    by_rank = {r.rank: r.doc_id for r in out}
    # doc 4 shares no term: absent entirely (no zero-score padding)
    assert 4 not in by_rank.values()
    # the short doc containing BOTH rare-ish terms wins
    assert by_rank[1] == 5
    scores = [r.score for r in sorted(out, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


@pytest.mark.parametrize("variant", ["exact", "log"])
def test_length_normalization_penalizes_padding(spark, variant):
    # Same tf for the query term; the doc bloated with off-topic terms
    # must score lower than the concise one.
    docs = spark.createDataFrame([
        (1, "snow peak"),
        (2, "snow peak " + "filler " * 30),
    ], "doc_id long, text string")
    out = {r.doc_id: r.score for r in bm25_topk(
        docs, _queries(spark, "snow"), k=5, variant=variant).collect()}
    assert out[1] > out[2]


def test_duplicate_query_terms_count_once(spark, corpus):
    s1 = {(r.query_id, r.doc_id): r.score for r in bm25_topk(
        corpus, _queries(spark, "alpine snow"), k=5,
        variant="exact").collect()}
    s2 = {(r.query_id, r.doc_id): r.score for r in bm25_topk(
        corpus, _queries(spark, "alpine snow alpine snow"), k=5,
        variant="exact").collect()}
    assert {d for _, d in s1} == {d for _, d in s2}
    assert all(s2[(1, d)] == s1[(1, d)] for _, d in s1)


def test_k_cut_and_tie_break(spark):
    # Structurally identical docs: exact variant gives equal scores, rank
    # order must fall back to doc_id deterministically.
    docs = spark.createDataFrame(
        [(i, "snow peak") for i in range(6)], "doc_id long, text string")
    out = bm25_topk(docs, _queries(spark, "snow"), k=3,
                    variant="exact").collect()
    assert [(r.rank, r.doc_id) for r in
            sorted(out, key=lambda r: r.rank)] == [(1, 0), (2, 1), (3, 2)]
    assert len({r.score for r in out}) == 1


def test_partitioning_independence_exact(spark, corpus):
    a = bm25_topk(corpus, _queries(spark, "alpine snow", "lift station"),
                  k=5, variant="exact").collect()
    b = bm25_topk(corpus.repartition(7, "text"),
                  _queries(spark, "alpine snow", "lift station"),
                  k=5, variant="exact").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_exact_matches_log_ranking_here(spark, corpus):
    """On this corpus the linear-idf and log-idf variants agree on ranks
    (they can differ in general; this pins that the exact twin is a
    faithful ranker, not just oracle-convenient)."""
    q = _queries(spark, "alpine snow", "lift station")
    ex = {(r.query_id, r.rank): r.doc_id for r in bm25_topk(
        corpus, q, k=5, variant="exact").collect()}
    lg = {(r.query_id, r.rank): r.doc_id for r in bm25_topk(
        corpus, q, k=5, variant="log").collect()}
    assert ex == lg


def test_log_variant_idf_is_finite_and_positive(spark):
    # A term present in EVERY doc must still get a positive finite weight
    # (the +1 inside the log guards the classic negative-idf pathology).
    docs = spark.createDataFrame(
        [(i, "common snow") for i in range(4)], "doc_id long, text string")
    out = bm25_topk(docs, _queries(spark, "common"), k=4,
                    variant="log").collect()
    assert len(out) == 4
    assert all(r.score > 0 and math.isfinite(r.score) for r in out)
