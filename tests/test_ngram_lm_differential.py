"""Independent pure-Python differentials for the n-gram LM scorers.

The KN family's DuckDB oracles MIRROR the Spark formulas term by term,
so oracle parity cannot catch a shared conceptual error (the same gap
the round-11 advisory exposed in the quality filters).  These tests
recompute every score from FIRST PRINCIPLES — raw token lists, dict
counters, the textbook recurrences — with none of the engines' join/
aggregation machinery, and compare the per-document means after the
shared 4-decimal rounding.

References implemented here:
- interpolated KN bigram (Kneser & Ney 1995; Chen & Goodman 1998
  eq. 20, single discount)                         → kn_score_docs
- interpolated KN trigram (same, full recursion)   → kn3_score_docs
- MODIFIED KN trigram (Chen & Goodman 1998 §3,
  eq. 26: D1/D2/D3+ per level from that level's
  count-of-counts)                                 → mkn_score_docs

Corpora: the sf0.001 smoke corpus (real Zipfian text, every branch of
the count-of-counts populated) plus a crafted corpus small enough to
audit by hand, with deliberate singleton/doubleton/tripleton mass at
both levels so all six MKN discounts are exercised and distinct.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

from conftest import SF_SMOKE
from training_catalog.plans import QUERIES


def _texts(limit=None):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    return rows[:limit] if limit else rows


def _words(t):
    return [w for w in t.split(" ") if w]


# --- pure-python references ---------------------------------------------------

def ref_kn2(docs):
    """doc_id -> (n_bigrams, avg_logp) under interpolated bigram KN."""
    big = Counter()
    for _, t in docs:
        ws = _words(t)
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
    c_w1, n_div_left, n_cont_right = Counter(), Counter(), Counter()
    for (a, b), c in big.items():
        c_w1[a] += c
        n_div_left[a] += 1
        n_cont_right[b] += 1
    t_types = len(big)
    n1 = sum(1 for c in big.values() if c == 1)
    n2 = sum(1 for c in big.values() if c == 2)
    d = n1 / (n1 + 2 * n2) if n1 + 2 * n2 > 0 else 0.0
    out = {}
    for doc_id, t in docs:
        ws = _words(t)
        if len(ws) < 2:
            continue
        logps = []
        for a, b in zip(ws, ws[1:]):
            p = (max(big[(a, b)] - d, 0.0)
                 + d * n_div_left[a] * n_cont_right[b] / t_types) / c_w1[a]
            logps.append(math.log(p))
        out[doc_id] = (len(logps), round(sum(logps) / len(logps), 4))
    return out


def _tri_tables(docs):
    tri = Counter()
    for _, t in docs:
        ws = _words(t)
        for i in range(len(ws) - 2):
            tri[(ws[i], ws[i + 1], ws[i + 2])] += 1
    cont = Counter()           # (w2, w3) -> N1+(.w2w3)
    for (a, b, c3) in tri:
        cont[(b, c3)] += 1
    return tri, cont


def ref_kn3(docs):
    """doc_id -> (n_trigrams, avg_logp), single-discount trigram KN."""
    tri, cont = _tri_tables(docs)
    c12, n3div = Counter(), Counter()
    for (a, b, c3), c in tri.items():
        c12[(a, b)] += c
        n3div[(a, b)] += 1
    ncont_mid, w3div_mid = Counter(), Counter()
    for (b, c3), c in cont.items():
        ncont_mid[b] += c
        w3div_mid[b] += 1
    uni3 = Counter()
    for (b, c3) in cont:
        uni3[c3] += 1
    t2 = len(cont)

    def disc(counter):
        n1 = sum(1 for c in counter.values() if c == 1)
        n2 = sum(1 for c in counter.values() if c == 2)
        return n1 / (n1 + 2 * n2) if n1 + 2 * n2 > 0 else 0.0

    d3, d2 = disc(tri), disc(cont)
    out = {}
    for doc_id, t in docs:
        ws = _words(t)
        if len(ws) < 3:
            continue
        logps = []
        for i in range(len(ws) - 2):
            a, b, c3 = ws[i], ws[i + 1], ws[i + 2]
            p1 = uni3[c3] / t2
            p2 = (max(cont[(b, c3)] - d2, 0.0)
                  + d2 * w3div_mid[b] * p1) / ncont_mid[b]
            p3 = (max(tri[(a, b, c3)] - d3, 0.0)
                  + d3 * n3div[(a, b)] * p2) / c12[(a, b)]
            logps.append(math.log(p3))
        out[doc_id] = (len(logps), round(sum(logps) / len(logps), 4))
    return out


def _mkn_discounts(counter):
    """(D1, D2, D3+) from a level's count-of-counts, each degrading to
    0.0 when its denominator has no mass (the engines' convention)."""
    n = Counter()
    for c in counter.values():
        if c <= 4:
            n[c] += 1
    y = n[1] / (n[1] + 2 * n[2]) if n[1] + 2 * n[2] > 0 else 0.0
    d1 = 1.0 - 2.0 * y * n[2] / n[1] if n[1] > 0 else 0.0
    d2 = 2.0 - 3.0 * y * n[3] / n[2] if n[2] > 0 else 0.0
    d3 = 3.0 - 4.0 * y * n[4] / n[3] if n[3] > 0 else 0.0
    return d1, d2, d3


def ref_mkn3(docs):
    """doc_id -> (n_trigrams, avg_logp), MODIFIED KN trigram (C&G §3)."""
    tri, cont = _tri_tables(docs)
    c12 = Counter()
    nd = {}                     # (w1,w2) -> [N1, N2, N3+]
    for (a, b, c3), c in tri.items():
        c12[(a, b)] += c
        buckets = nd.setdefault((a, b), [0, 0, 0])
        buckets[min(c, 3) - 1] += 1
    ncont_mid = Counter()
    md = {}                     # w2 -> [N1, N2, N3+] over continuation counts
    for (b, c3), c in cont.items():
        ncont_mid[b] += c
        buckets = md.setdefault(b, [0, 0, 0])
        buckets[min(c, 3) - 1] += 1
    uni3 = Counter()
    for (b, c3) in cont:
        uni3[c3] += 1
    t2 = len(cont)
    d31, d32, d33 = _mkn_discounts(tri)
    d21, d22, d23 = _mkn_discounts(cont)

    def dof(c, d1, d2, d3):
        return d1 if c == 1 else d2 if c == 2 else d3

    out = {}
    for doc_id, t in docs:
        ws = _words(t)
        if len(ws) < 3:
            continue
        logps = []
        for i in range(len(ws) - 2):
            a, b, c3 = ws[i], ws[i + 1], ws[i + 2]
            p1 = uni3[c3] / t2
            cc = cont[(b, c3)]
            g2 = (d21 * md[b][0] + d22 * md[b][1]
                  + d23 * md[b][2]) / ncont_mid[b]
            p2 = (cc - dof(cc, d21, d22, d23)) / ncont_mid[b] + g2 * p1
            ct = tri[(a, b, c3)]
            g3 = (d31 * nd[(a, b)][0] + d32 * nd[(a, b)][1]
                  + d33 * nd[(a, b)][2]) / c12[(a, b)]
            p3 = (ct - dof(ct, d31, d32, d33)) / c12[(a, b)] + g3 * p2
            logps.append(math.log(p3))
        out[doc_id] = (len(logps), round(sum(logps) / len(logps), 4))
    return out


# --- crafted corpus: all six MKN discounts live and distinct ------------------

# counts by construction: trigram level has singleton, doubleton,
# tripleton and 4x mass ("a b c" x4, "b c d" x3 via overlap, etc.);
# the continuation level inherits a different distribution.
_CRAFTED = [
    (0, "a b c a b c a b c a b c"),       # (a,b,c) x4, (b,c,a) x3 ...
    (1, "b c d b c d b c d"),             # (b,c,d) x3
    (2, "c d e c d e"),                   # (c,d,e) x2
    (3, "d e f"),                         # singletons
    (4, "e f g h i"),                     # more singletons
    (5, "a b d"),                         # (a,b,*) diversity: c and d
    (6, "x b c"),                         # (*,b,c) continuation diversity:
    (7, "y b c"),                         # N1+(.bc) = 4 (a, d, x, y)
    (8, "w c d"),                         # N1+(.cd) = 3 (b, e, w)
    (9, "q e f"),                         # N1+(.ef) = 2 (d, q)
]


def _run(spark, tmp_path, docs, name):
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, "
        "n_chars long") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    return {r["doc_id"]: r for r in
            QUERIES[name](spark, str(tmp_path)).collect()}


def _check(got, exp, count_col):
    assert set(got) == set(exp)
    for doc_id, (n, avg) in exp.items():
        assert got[doc_id][count_col] == n, doc_id
        assert got[doc_id]["avg_logp"] == avg, (
            doc_id, got[doc_id]["avg_logp"], avg)


def test_kn2_matches_first_principles_on_smoke(spark, tmp_path):
    docs = _texts()
    _check(_run(spark, tmp_path, docs, "kn_score_docs"),
           ref_kn2(docs), "n_bigrams")


def test_kn3_matches_first_principles_on_smoke(spark, tmp_path):
    docs = _texts()
    _check(_run(spark, tmp_path, docs, "kn3_score_docs"),
           ref_kn3(docs), "n_trigrams")


def test_mkn_matches_first_principles_on_smoke(spark, tmp_path):
    docs = _texts()
    _check(_run(spark, tmp_path, docs, "mkn_score_docs"),
           ref_mkn3(docs), "n_trigrams")


def test_mkn_crafted_all_discounts_distinct(spark, tmp_path):
    """On the crafted corpus every count-of-counts cell (n1..n4) at
    BOTH levels is populated, so all six discounts are estimated from
    real mass (no degraded-to-zero branch), are pairwise distinct, and
    every D(c) bucket fires — then the engine must still match the
    first-principles recurrence exactly.  (MKN discounts may be
    legitimately NEGATIVE when a level's count-of-counts are skewed —
    D2 = 2 − 3·Y·n3/n2 here — which is exactly the kind of corpus that
    distinguishes modified from single-discount KN.)"""
    from collections import Counter as _C

    tri, cont = _tri_tables(_CRAFTED)
    for table in (tri, cont):
        coc = _C(table.values())
        assert all(coc[k] > 0 for k in (1, 2, 3, 4)), dict(coc)
    d3s, d2s = _mkn_discounts(tri), _mkn_discounts(cont)
    assert len({round(d, 9) for d in d3s + d2s}) == 6, (d3s, d2s)
    _check(_run(spark, tmp_path, _CRAFTED, "mkn_score_docs"),
           ref_mkn3(_CRAFTED), "n_trigrams")


def test_mkn_differs_from_kn3_where_it_should(spark, tmp_path):
    """The upgrade must be observable: on the crafted corpus the
    modified discounts change scores for docs whose trigram counts
    span the 1/2/3+ buckets, and the two references disagree exactly
    where the engines disagree."""
    got_kn3 = _run(spark, tmp_path, _CRAFTED, "kn3_score_docs")
    got_mkn = _run(spark, tmp_path, _CRAFTED, "mkn_score_docs")
    exp_kn3, exp_mkn = ref_kn3(_CRAFTED), ref_mkn3(_CRAFTED)
    diff_engine = {d for d in got_kn3
                   if got_kn3[d]["avg_logp"] != got_mkn[d]["avg_logp"]}
    diff_ref = {d for d in exp_kn3
                if exp_kn3[d][1] != exp_mkn[d][1]}
    assert diff_engine, "modified KN never changed a score"
    assert diff_engine == diff_ref


# --- stupid backoff (first principles, incl. the md5 split) -------------------

def ref_sbo(docs):
    """doc_id -> (n_trigrams, n_oov, avg_logs) from raw token lists:
    md5-bucket split (bucket < 80 trains), counts-only training, the
    Brants recurrence with alpha = 0.4 — no engine machinery."""
    import hashlib

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % 100

    train = [(d, t) for d, t in docs if bucket(t) < 80]
    held = [(d, t) for d, t in docs if bucket(t) >= 80]
    uni, bi, tri = Counter(), Counter(), Counter()
    for _, t in train:
        ws = _words(t)
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    n_tok = sum(uni.values())
    out = {}
    for doc_id, t in held:
        ws = _words(t)
        if len(ws) < 3:
            continue
        logs, n_oov, n_tri = [], 0, 0
        for g in zip(ws, ws[1:], ws[2:]):
            n_tri += 1
            a, b, c = g
            if uni[c] == 0:
                n_oov += 1
                continue
            if tri[g] > 0:
                s = tri[g] / bi[(a, b)]
            elif bi[(b, c)] > 0:
                s = 0.4 * (bi[(b, c)] / uni[b])
            else:
                s = 0.16 * (uni[c] / n_tok)
            logs.append(math.log(s))
        if logs:
            out[doc_id] = (n_tri, n_oov,
                           round(sum(logs) / len(logs), 4))
    return out


def test_sbo_matches_first_principles_on_smoke(spark, tmp_path):
    """Full-corpus differential for sbo_score_docs: the md5 split, the
    single-pass 1/2/3-gram ledger, the five left joins, and the OOV
    exclusion must all reduce to the plain dict recurrence."""
    docs = _texts()
    exp = ref_sbo(docs)
    got = _run(spark, tmp_path, docs, "sbo_score_docs")
    assert set(got) == set(exp)
    for doc_id, (n, oov, avg) in exp.items():
        row = got[doc_id]
        assert (row["n_trigrams"], row["n_oov"]) == (n, oov), doc_id
        assert row["avg_logs"] == avg, (
            doc_id, row["avg_logs"], avg)
    # the held-out slice is a real minority split, not degenerate
    assert 0 < len(exp) < len(docs)
