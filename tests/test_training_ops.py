"""Unit + property tests for the training-pipeline operators: CDC merge,
deterministic hash sampling, exact quantiles, TF-IDF, and the error bounds
of the approximate-sketch catalog query (which has no DuckDB oracle)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from training_catalog.operators.merge import merge_upsert
from training_catalog.operators.quantiles import exact_quantiles
from training_catalog.operators.sampling import (
    hash_sample, stratified_hash_sample)
from training_catalog.operators.tfidf import (
    term_frequencies, tfidf)
from training_catalog.sources.tables import load_table

# ---------------------------------------------------------------------------
# merge_upsert
# ---------------------------------------------------------------------------

MERGE_SCHEMA = "k long, v string, version int"


def test_merge_latest_version_wins(spark):
    base = spark.createDataFrame([(1, "old", 1), (2, "keep", 1)],
                                 MERGE_SCHEMA)
    upd = spark.createDataFrame([(1, "new", 2)], MERGE_SCHEMA)
    rows = {r.k: r for r in merge_upsert(base, upd, ["k"],
                                         "version").collect()}
    assert rows[1].v == "new" and rows[1].version == 2
    assert rows[2].v == "keep"


def test_merge_update_wins_version_tie(spark):
    base = spark.createDataFrame([(1, "base", 5)], MERGE_SCHEMA)
    upd = spark.createDataFrame([(1, "update", 5)], MERGE_SCHEMA)
    assert merge_upsert(base, upd, ["k"], "version").first().v == "update"


def test_merge_stale_update_ignored(spark):
    base = spark.createDataFrame([(1, "base", 5)], MERGE_SCHEMA)
    upd = spark.createDataFrame([(1, "stale", 3)], MERGE_SCHEMA)
    assert merge_upsert(base, upd, ["k"], "version").first().v == "base"


def test_merge_tombstone_delete(spark):
    base = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], MERGE_SCHEMA)
    upd = spark.createDataFrame([(1, "x", 2, True), (3, "c", 1, False)],
                                MERGE_SCHEMA + ", deleted boolean")
    # base has no delete column — treated as false there
    out = merge_upsert(base, upd, ["k"], "version", delete_col="deleted")
    assert {r.k: r.v for r in out.collect()} == {2: "b", 3: "c"}
    assert "deleted" not in out.columns


def test_merge_insert_only_key(spark):
    base = spark.createDataFrame([(1, "a", 1)], MERGE_SCHEMA)
    upd = spark.createDataFrame([(9, "ins", 1)], MERGE_SCHEMA)
    assert {r.k for r in merge_upsert(base, upd, ["k"],
                                      "version").collect()} == {1, 9}


# ---------------------------------------------------------------------------
# hash sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_stable(spark):
    df = spark.range(20000)
    a = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    b = {r.id for r in hash_sample(df.repartition(13), "id", 0.3).collect()}
    assert a == b                      # layout-independent
    # binomial(20000, 0.3): ±4σ ≈ ±260
    assert abs(len(a) - 6000) < 300


def test_hash_sample_nested_fractions(spark):
    # threshold ordering ⇒ the 10% sample is a subset of the 30% sample
    df = spark.range(5000)
    small = {r.id for r in hash_sample(df, "id", 0.1).collect()}
    big = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    assert small <= big


def test_hash_sample_salt_gives_different_draw(spark):
    df = spark.range(5000)
    a = {r.id for r in hash_sample(df, "id", 0.2, salt="s1").collect()}
    b = {r.id for r in hash_sample(df, "id", 0.2, salt="s2").collect()}
    assert a != b
    # independent draws: overlap ≈ 0.04·5000 = 200, not ≈ 1000
    assert len(a & b) < 400


def test_hash_sample_fraction_bounds(spark):
    df = spark.range(100)
    assert hash_sample(df, "id", 0.0).count() == 0
    assert hash_sample(df, "id", 1.0).count() == 100
    with pytest.raises(ValueError):
        hash_sample(df, "id", 1.5)


def test_stratified_sample_rates(spark):
    df = spark.range(30000).withColumn(
        "s", F.when(F.col("id") % 2 == 0, "a").otherwise("b"))
    out = stratified_hash_sample(df, "id", "s", {"a": 0.5, "b": 0.05})
    counts = {r.s: r.n for r in
              out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["a"] - 7500) < 350
    assert abs(counts["b"] - 750) < 150


def test_stratified_sample_default_zero(spark):
    df = spark.range(1000).withColumn("s", F.lit("unlisted"))
    assert stratified_hash_sample(df, "id", "s", {"a": 1.0}).count() == 0


def test_hash_sample_no_shuffle(spark):
    plan = hash_sample(spark.range(10), "id", 0.5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# per-group cap (RefinedWeb-style domain balancing)
# ---------------------------------------------------------------------------


def _cap_single_window(df, key, group, cap, salt=""):
    """Reference plan: the naive one-window top-cap the two-phase
    operator must match exactly."""
    from pyspark.sql import Window
    rk = F.md5(F.concat(F.lit(salt), F.col(key).cast("string")))
    w = Window.partitionBy(group).orderBy(rk, F.col(key).cast("string"))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap).drop("__rn"))


def _skewed_docs(spark):
    # one mega-group (900 rows) + many small ones, the shape the
    # two-phase plan exists for
    return spark.range(1200).select(
        F.col("id"),
        F.when(F.col("id") < 900, "mega")
         .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string")))
         .alias("src"))


def test_cap_per_group_equals_single_window(spark):
    from training_catalog.operators.sampling import cap_per_group
    df = _skewed_docs(spark)
    two = sorted((r.id, r.src) for r in
                 cap_per_group(df, "id", "src", 25).collect())
    one = sorted((r.id, r.src) for r in
                 _cap_single_window(df, "id", "src", 25).collect())
    assert two == one


def test_cap_per_group_respects_cap_and_keeps_small_groups(spark):
    from training_catalog.operators.sampling import cap_per_group
    df = _skewed_docs(spark)
    counts = {r.src: r.n for r in
              cap_per_group(df, "id", "src", 25)
              .groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["mega"] == 25
    # every group is capped at min(cap, group size)
    sizes = df.groupBy("src").count().collect()
    for r in sizes:
        assert counts[r.src] == min(25, r["count"])
    # a group genuinely under the cap passes through whole
    tiny = cap_per_group(df.filter(F.col("id") % 50 == 0), "id", "src", 25)
    assert tiny.filter(F.col("src") == "mega").count() == 18  # 900/50 < 25


def test_cap_per_group_stable_under_repartitioning(spark):
    from training_catalog.operators.sampling import cap_per_group
    df = _skewed_docs(spark)
    a = sorted(r.id for r in cap_per_group(df, "id", "src", 10).collect())
    b = sorted(r.id for r in
               cap_per_group(df.repartition(17), "id", "src", 10).collect())
    assert a == b


def test_cap_per_group_rejects_bad_cap(spark):
    from training_catalog.operators.sampling import cap_per_group
    with pytest.raises(ValueError):
        cap_per_group(spark.range(5), "id", "id", 0)


# ---------------------------------------------------------------------------
# exact quantiles
# ---------------------------------------------------------------------------

def test_exact_quantiles_match_numpy(spark):
    rng = np.random.default_rng(7)
    data = [(int(g), int(v)) for g in range(3)
            for v in rng.integers(0, 10_000, 101 + 7 * g)]
    df = spark.createDataFrame(data, "g int, v long")
    probs = [0.0, 0.25, 0.5, 0.75, 1.0]
    got = {(r.g, r.p): r.q
           for r in exact_quantiles(df, "v", ["g"], probs).collect()}
    for g in range(3):
        vals = np.array([v for gg, v in data if gg == g])
        for p in probs:
            want = float(np.percentile(vals, p * 100))  # linear interp
            assert math.isclose(got[(g, p)], want, rel_tol=1e-12), \
                (g, p, got[(g, p)], want)


def test_exact_quantiles_single_row_group(spark):
    df = spark.createDataFrame([("only", 42)], "g string, v long")
    out = {r.p: r.q for r in
           exact_quantiles(df, "v", ["g"], [0.25, 0.5, 1.0]).collect()}
    assert out == {0.25: 42.0, 0.5: 42.0, 1.0: 42.0}


def test_exact_quantiles_single_sort_shuffle(spark):
    df = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("long").alias("v"))
    plan = exact_quantiles(df, "v", ["o_orderstatus"], [0.5]) \
        ._jdf.queryExecution().executedPlan().toString()
    # ranked side: one hashpartitioning exchange feeding the window sort;
    # the rank lookup must be a broadcast, not a second shuffle of the data
    assert "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------

def _corpus(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the dog sat"),
         (3, "a cat and a dog and a parrot")],
        "doc_id long, text string")


def test_term_frequencies(spark):
    tf = {(r.doc_id, r.term): r.tf
          for r in term_frequencies(_corpus(spark)).collect()}
    assert tf[(1, "the")] == 2
    assert tf[(3, "a")] == 3
    assert tf[(2, "sat")] == 1


def test_tfidf_ratio_exact(spark):
    out = {(r.doc_id, r.term): r
           for r in tfidf(_corpus(spark), variant="ratio").collect()}
    # "the": df=2, N=3 → doc1 tf=2 → 2*3/2 = 3.0 exactly
    r = out[(1, "the")]
    assert (r.tf, r.df, r.tfidf) == (2, 2, 3.0)
    # "parrot": df=1 → 1*3/1 = 3.0
    assert out[(3, "parrot")].tfidf == 3.0


def test_tfidf_log_ranks_rare_terms_higher(spark):
    out = {(r.doc_id, r.term): r.tfidf
           for r in tfidf(_corpus(spark), variant="log").collect()}
    # same tf=1 in doc 3: parrot (df=1) must outrank dog (df=2)
    assert out[(3, "parrot")] > out[(3, "dog")]
    with pytest.raises(ValueError):
        tfidf(_corpus(spark), variant="bogus")


# ---------------------------------------------------------------------------
# sketch error bounds (the no_oracle catalog query, pinned here)
# ---------------------------------------------------------------------------

def test_sketch_doc_stats_error_bounds(spark):
    from training_catalog.plans import QUERIES
    approx = {r.lang: r for r in
              QUERIES["sketch_doc_stats"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {r.lang: r for r in
             (docs.groupBy("lang")
              .agg(F.countDistinct("source").alias("sources"),
                   F.countDistinct("text").alias("texts"),
                   F.expr("percentile(n_chars, 0.5)").alias("median"))
              .collect())}
    assert set(approx) == set(exact)
    for lang, a in approx.items():
        e = exact[lang]
        assert abs(a.approx_sources - e.sources) <= max(2, 0.05 * e.sources)
        assert abs(a.approx_texts - e.texts) <= max(2, 0.05 * e.texts)
        # percentile_approx returns an actual element (no interpolation),
        # so allow one data-point spacing on small groups: 5% relative
        assert abs(a.approx_median_chars - e.median) <= \
            max(2, 0.05 * e.median)


# ---------------------------------------------------------------------------
# temperature_mixture_sample
# ---------------------------------------------------------------------------


def test_temperature_mixture_upsamples_small_sources(spark):
    from training_catalog.operators.sampling import (
        temperature_mixture_sample)
    # big source: 2000 docs x 100 chars; small: 125 docs x 100 chars
    rows = ([(i, "big", 100) for i in range(2000)]
            + [(10_000 + i, "small", 100) for i in range(125)])
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = temperature_mixture_sample(df, "doc_id", "source", "w",
                                     budget_num=1, budget_den=2, alpha=0.5)
    kept = out.groupBy("source").count().collect()
    frac = {r.source: r["count"] for r in kept}
    # alpha=0.5 weights: sqrt(200000):sqrt(12500) = 4:1 → small source's
    # per-doc keep rate must exceed the big source's (upsampling)
    assert frac["small"] / 125 > frac["big"] / 2000
    # global budget ~half the corpus weight
    total_kept = sum(frac.values())
    assert 0.35 * 2125 < total_kept < 0.65 * 2125


def test_temperature_mixture_deterministic_and_exact_alpha_only(spark):
    import pytest

    from training_catalog.operators.sampling import (
        temperature_mixture_sample)
    df = spark.createDataFrame([(i, "s", 10) for i in range(50)],
                               "doc_id long, source string, w long")
    a = {r.doc_id for r in temperature_mixture_sample(
        df, "doc_id", "source", "w", 1, 3).collect()}
    b = {r.doc_id for r in temperature_mixture_sample(
        df, "doc_id", "source", "w", 1, 3).collect()}
    assert a == b
    with pytest.raises(ValueError):
        temperature_mixture_sample(df, "doc_id", "source", "w", 1, 3,
                                   alpha=0.7)


def test_temperature_mixture_repeat_produces_epochs(spark):
    from training_catalog.operators.sampling import (
        temperature_mixture_repeat)
    rows = ([(i, "big", 100) for i in range(2000)]
            + [(10_000 + i, "small", 100) for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = temperature_mixture_repeat(df, "doc_id", "source", "w",
                                     budget_num=3, budget_den=2).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.epoch)
    # sqrt weighting at 150% budget: the tiny source must exceed 1 epoch
    # (some docs repeat), the big one must not dominate with repeats
    assert max(by_src["small"]) >= 2
    assert len(by_src["small"]) > 50  # more rows than docs → repetition
    # epoch indexes are 1-based contiguous per doc
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    for doc, es in per_doc.items():
        assert sorted(es) == list(range(1, len(es) + 1)), doc


# ---------------------------------------------------------------------------
# heavy hitters
# ---------------------------------------------------------------------------


def test_space_saving_bound_under_eviction(spark):
    """capacity 8 on a skewed 30-term stream forces evictions; every
    reported term must satisfy estimate - error <= true <= estimate, and
    the guaranteed heavy hitter (count > N/capacity) must be present."""
    from training_catalog.operators.heavyhitters import (
        space_saving_topk, term_counts)
    rows = []
    for i in range(30):
        reps = 200 if i == 0 else (40 if i < 5 else 3)
        rows.extend([(f"t{i:02d} ",)] * reps)
    df = spark.createDataFrame(rows, "text string").repartition(4)
    truth = {r.term: r.n for r in term_counts(df, "text", "[a-z0-9]+")
             .collect()}
    sketch = space_saving_topk(df, "text", 10, capacity=8,
                               pattern="[a-z0-9]+").collect()
    assert any(r.term == "t00" for r in sketch)  # guaranteed heavy hitter
    for r in sketch:
        true = truth.get(r.term, 0)
        assert r.estimate - r.error <= true <= r.estimate, \
            (r.term, r.estimate, r.error, true)


def test_space_saving_exact_when_capacity_covers_vocab(spark):
    """With capacity >= vocabulary size no counter ever evicts: the
    sketch degenerates to exact counts with zero error."""
    from training_catalog.operators.heavyhitters import (
        space_saving_topk, top_terms)
    from training_catalog.sources.tables import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = [(r.term, r.n) for r in top_terms(docs, "text", 25).collect()]
    sketch = [(r.term, r.estimate, r.error)
              for r in space_saving_topk(docs, "text", 25,
                                         capacity=256).collect()]
    assert [(t, e) for t, e, _ in sketch] == exact
    assert all(err == 0 for _, _, err in sketch)


# ---------------------------------------------------------------------------
# distributed k-means (operators/kmeans.py)
# ---------------------------------------------------------------------------

def test_kmeans_partitioning_independence(spark):
    """Centroid quantization makes the fit independent of partitioning
    (partial-sum order must not leak into assignments)."""
    from training_catalog.operators.kmeans import kmeans_fit
    from training_catalog.sources.tables import load_table
    emb = load_table(spark, SF_SMOKE, "embeddings")
    c1, a1 = kmeans_fit(emb, k=4, n_iter=2)
    c2, a2 = kmeans_fit(emb.repartition(13, "label"), k=4, n_iter=2)
    assert np.array_equal(c1, c2)
    r1 = sorted((r.vec_id, r.cluster) for r in a1.collect())
    r2 = sorted((r.vec_id, r.cluster) for r in a2.collect())
    assert r1 == r2
    assert {r[1] for r in r1} <= set(range(4))
    assert len(r1) == emb.count()


def test_kmeans_converges_on_separated_blobs(spark):
    """Three far-apart blobs: every blob lands in exactly one cluster and
    inertia is the tight within-blob spread, not cross-blob distance."""
    from training_catalog.operators.kmeans import kmeans_fit
    rows = []
    for b, center in enumerate([0.0, 100.0, 200.0]):
        for i in range(20):
            vec = [center + (i % 5) * 0.01] * 4
            # ids interleaved so smallest-id init seeds one per blob
            rows.append((i * 10 + b, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, assign = kmeans_fit(df, k=3, n_iter=3)
    got = assign.collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r.vec_id % 10, set()).add(r.cluster)
    assert all(len(cs) == 1 for cs in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3
    assert all(r.d2 < 1.0 for r in got)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k exceeding the number of distinct points: surplus clusters go
    empty and keep their (rounded) init centroid without crashing."""
    from training_catalog.operators.kmeans import kmeans_fit
    rows = [(i, [float(i >= 2) * 50.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assign = kmeans_fit(df, k=3, n_iter=2)
    assert cents.shape == (3, 2)
    assert assign.count() == 4
    # the two distinct locations dominate; all points well-assigned
    assert all(r.d2 <= 0.25 for r in assign.collect())


def test_kmeans_fewer_rows_than_k_clamps(spark):
    """k > row count must clamp to the seed count, not IndexError on the
    counts/nonempty mask mismatch; empty input raises a clear error."""
    import pytest as _pytest

    from training_catalog.operators.kmeans import kmeans_fit
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "vec_id long, embedding array<double>")
    cents, assign = kmeans_fit(df, k=5, n_iter=2)
    assert cents.shape == (2, 2)
    rows = sorted((r.vec_id, r.cluster, r.d2) for r in assign.collect())
    assert [(v, c) for v, c, _ in rows] == [(0, 0), (1, 1)]
    assert all(d2 == 0.0 for _, _, d2 in rows)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="empty"):
        kmeans_fit(empty, k=3, n_iter=1)


def test_near_dup_groups_keep_best_quality(spark):
    """quality_col switches the canonical representative from min-id to
    highest-quality (ties -> smallest id); singletons always keep."""
    from training_catalog.operators.dedup import near_dup_groups
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (10, 0.1)],
        "doc_id long, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")

    first = {r.doc_id: (r.group_id, r.keep) for r in
             near_dup_groups(docs, "doc_id", pairs).collect()}
    assert first == {1: (1, True), 2: (1, False), 3: (1, False),
                     4: (1, False), 10: (10, True)}

    best = {r.doc_id: (r.group_id, r.keep) for r in
            near_dup_groups(docs, "doc_id", pairs,
                            quality_col="quality").collect()}
    # group_id identity unchanged (min id); keep moves to quality argmax
    # with the 0.9-tie broken to the smaller id (2, not 3)
    assert best == {1: (1, False), 2: (1, True), 3: (1, False),
                    4: (1, False), 10: (10, True)}


# ---------------------------------------------------------------------------
# SemDeDup — k-means-bounded semantic dedup (operators/semdedup.py)
# ---------------------------------------------------------------------------


def test_semdedup_exact_twin_keeps_smaller_id(spark):
    """A planted exact duplicate ties on d2, so the smaller id survives;
    a below-threshold vector in the same cluster always keeps."""
    from training_catalog.operators.semdedup import semdedup
    # single cluster (k=1): pair of exact twins + one orthogonal vector
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.keep for r in
           semdedup(df, k=1, n_iter=1, tau=0.9).collect()}
    assert got == {0: True, 1: False, 2: True}


def test_semdedup_prefers_centroid_proximity(spark):
    """Among an above-threshold pair with different d2, the vector closer
    to the centroid is the one kept (not the smaller id)."""
    from training_catalog.operators.semdedup import semdedup
    # same direction, different magnitude: cosine = 1.0; centroid of the
    # cluster sits near the point mass, so the outlier magnitude (id 0!)
    # is farther and must be dropped despite its smaller id
    rows = [(0, [100.0, 0.0]), (1, [1.0, 0.0]), (2, [1.1, 0.0]),
            (3, [0.9, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.keep for r in
           semdedup(df, k=1, n_iter=2, tau=0.99).collect()}
    # centroid = the mean [25.75, 0]; all four are cosine-identical, so
    # exactly one keeps: the d2-minimum is id 2 ([1.1, 0])
    assert got == {0: False, 1: False, 2: True, 3: False}


def test_semdedup_matches_bruteforce_reference(spark):
    """Differential check on the real corpus: the distributed
    applyInPandas prune equals a single-process numpy reimplementation of
    the rule over the same kmeans fit."""
    from training_catalog.operators.kmeans import kmeans_fit
    from training_catalog.operators.semdedup import semdedup
    from training_catalog.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    tau, decimals = 0.30, 6
    got = {r.vec_id: (r.cluster, r.keep) for r in
           semdedup(emb, k=4, n_iter=2, tau=tau).collect()}

    _, assign = kmeans_fit(emb, k=4, n_iter=2)
    rows = (emb.join(assign, "vec_id")
            .select("vec_id", "embedding", "cluster", "d2").collect())
    expect = {}
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for c, members in by_cluster.items():
        V = np.stack([np.asarray(m.embedding, dtype=np.float64)
                      for m in members])
        Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
        S = np.round(Vn @ Vn.T, decimals)
        pref = sorted(range(len(members)),
                      key=lambda i: (round(members[i].d2, decimals),
                                     members[i].vec_id))
        rank = {i: p for p, i in enumerate(pref)}
        for i, m in enumerate(members):
            dropped = any(S[i, j] >= tau and rank[j] < rank[i]
                          for j in range(len(members)) if j != i)
            expect[m.vec_id] = (c, not dropped)
    assert got == expect
    assert any(not keep for _, keep in got.values())  # non-vacuous


def test_semdedup_partitioning_independence(spark):
    """Input partitioning must not leak into the verdicts (the groupBy
    re-collects clusters; the rank rule is a total order)."""
    from training_catalog.operators.semdedup import semdedup
    from training_catalog.sources.tables import load_table
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = sorted(map(tuple, semdedup(emb, k=4, n_iter=2,
                                   tau=0.30).collect()))
    b = sorted(map(tuple, semdedup(emb.repartition(13, "label"), k=4,
                                   n_iter=2, tau=0.30).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring (operators/lm_score.py)
# ---------------------------------------------------------------------------


def test_bigram_logprob_hand_computed(spark):
    """Self-trained model on a 2-live-doc corpus, checked against the
    closed-form add-1/2 probabilities; the token-less doc drops out."""
    from training_catalog.operators.lm_score import \
        bigram_logprob
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "A b!"), (3, "  ...  ")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.avg_logp) for r in
           bigram_logprob(docs).collect()}
    # pairs: doc1 (<s>,a)(a,b)(b,a)(a,b); doc2 (<s>,a)(a,b); V={a,b}
    # P(<s>,a)=(2·2+1)/(2·2+2)=5/6  P(a,b)=(3·2+1)/(3·2+2)=7/8
    # P(b,a)=(1·2+1)/(1·2+2)=3/4
    lp = {"sa": math.log(5 / 6), "ab": math.log(7 / 8),
          "ba": math.log(3 / 4)}
    d1 = round((lp["sa"] + lp["ab"] + lp["ba"] + lp["ab"]) / 4, 4)
    d2 = round((lp["sa"] + lp["ab"]) / 2, 4)
    assert got == {1: (4, d1), 2: (2, d2)}


def test_bigram_logprob_foreign_model_smooths_unseen(spark):
    """Scoring against a model trained on OTHER docs: an unseen bigram
    under a seen context gets the add-k floor, an unseen context falls to
    the uniform 1/V floor."""
    from training_catalog.operators.lm_score import \
        bigram_logprob
    model = spark.createDataFrame([(10, "a b"), (11, "a b")],
                                  "doc_id long, text string")
    # model pairs: (<s>,a)×2, (a,b)×2; V={a,b} → 2
    docs = spark.createDataFrame([(1, "a c"), (2, "z q")],
                                 "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in
           bigram_logprob(docs, model_docs=model).collect()}
    # doc1: (<s>,a): (2·2+1)/(2·2+2)=5/6; (a,c) unseen w, seen prev a:
    #   (0+1)/(2·2+2)=1/6
    d1 = round((math.log(5 / 6) + math.log(1 / 6)) / 2, 4)
    # doc2: (<s>,z): <s> IS a seen context → (0+1)/(2·2+2)=1/6;
    #   (z,q): unseen context → uniform floor (0+1)/(0+2)=1/2
    d2 = round((math.log(1 / 6) + math.log(1 / 2)) / 2, 4)
    assert got == {1: d1, 2: d2}


def test_bigram_logprob_flags_atypical_doc(spark):
    """The quality-filter property: a doc of corpus-typical bigrams
    scores higher than an outlier of unique words."""
    from training_catalog.operators.lm_score import \
        bigram_logprob
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((99, "zyxw qvjk plmn"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in bigram_logprob(docs).collect()}
    typical = got[0]
    assert all(got[i] == typical for i in range(20))
    assert got[99] < typical - 1.0


# ---------------------------------------------------------------------------
# Logistic-regression quality classifier (operators/logreg.py)
# ---------------------------------------------------------------------------


def test_logreg_one_step_hand_computed(spark):
    """One GD step on a 2-point separable set: w1 = round(-lr/N ·
    Σ x̃(0.5−y), 6) = [1, 0] at lr=2, and the scores fall on the right
    sides of 0.5."""
    from training_catalog.operators.logreg import (logreg_fit,
                                                              logreg_score)
    df = spark.createDataFrame([(0, [1.0], 1.0), (1, [-1.0], 0.0)],
                               "vec_id long, embedding array<double>, "
                               "y double")
    w = logreg_fit(df, F.col("y"), n_iter=1, lr=2.0)
    assert w.tolist() == [1.0, 0.0]
    got = {r.vec_id: (r.p, r.pred) for r in logreg_score(df, w).collect()}
    sig = round(1.0 / (1.0 + math.exp(-1.0)), 6)
    assert got == {0: (sig, True), 1: (round(1.0 - sig, 6), False)}


def test_logreg_partitioning_independence(spark):
    """Sorted partial-gradient merge + per-step quantization: the fit is
    identical under any input partitioning."""
    from training_catalog.operators.logreg import logreg_fit
    from training_catalog.sources.tables import load_table
    emb = load_table(spark, SF_SMOKE, "embeddings")
    y = F.col("label") == 0
    w1 = logreg_fit(emb, y, n_iter=3, lr=20.0)
    w2 = logreg_fit(emb.repartition(13, "vec_id"), y, n_iter=3, lr=20.0)
    assert np.array_equal(w1, w2)


def test_logreg_separates_classes(spark):
    """The catalog fit (10 steps, lr=20) must rank the positive class
    measurably above the rest — the quality-filter property."""
    from training_catalog.operators.logreg import (logreg_fit,
                                                              logreg_score)
    from training_catalog.sources.tables import load_table
    emb = load_table(spark, SF_SMOKE, "embeddings")
    w = logreg_fit(emb, F.col("label") == 0, n_iter=10, lr=20.0)
    scored = logreg_score(emb, w).join(emb.select("vec_id", "label"),
                                       "vec_id")
    means = dict(scored.groupBy(F.col("label") == 0)
                 .agg(F.avg("p").alias("m")).collect())
    assert means[True] > means[False] * 1.15


def test_logreg_empty_input_raises(spark):
    from training_catalog.operators.logreg import logreg_fit
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, y double")
    with pytest.raises(ValueError, match="empty"):
        logreg_fit(empty, F.col("y"), n_iter=1)


# ---------------------------------------------------------------------------
# DSIR importance selection (operators/dsir.py)
# ---------------------------------------------------------------------------


def test_dsir_enriches_target_slice(spark):
    """The selection property: the kept set is measurably enriched in
    the target language vs the corpus baseline."""
    from training_catalog.operators.dsir import dsir_select
    from training_catalog.sources.tables import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    out = dsir_select(docs, F.col("lang") == "en", k=100)
    joined = out.filter("kept").join(docs.select("doc_id", "lang"),
                                     "doc_id")
    kept_en = joined.filter(F.col("lang") == "en").count()
    kept = joined.count()
    assert kept == 100
    base = (docs.filter(F.col("lang") == "en").count()
            / docs.count())
    assert kept_en / kept > base * 1.2


def test_dsir_uniform_target_scores_are_pure_gumbel(spark):
    """target = whole corpus ⇒ p_target ≡ p_raw ⇒ logw is exactly 0 for
    every document, so scores depend only on doc_id (the md5 Gumbel),
    not on text content."""
    from training_catalog.operators.dsir import dsir_select
    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "completely different words here"), (2, "other text")],
        "doc_id long, text string")
    sa = {r.doc_id: r.score
          for r in dsir_select(a, F.lit(True), k=1).collect()}
    sb = {r.doc_id: r.score
          for r in dsir_select(b, F.lit(True), k=1).collect()}
    assert sa == sb


def test_dsir_partitioning_independence(spark):
    from training_catalog.operators.dsir import dsir_select
    from training_catalog.sources.tables import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    t = F.col("lang") == "en"
    a = sorted(map(tuple, dsir_select(docs, t, k=50).collect()))
    b = sorted(map(tuple,
                   dsir_select(docs.repartition(13, "source"), t,
                               k=50).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Prototype-distance outlier pruning (operators/centroids.py)
# ---------------------------------------------------------------------------


def test_centroid_outliers_hand_case(spark):
    """Centroid of {(0,0),(2,0),(0,2),(10,10)} is (3,3); d2 =
    {18,10,10,98}, mean 34 — at 21/20× only the far vector flags."""
    from training_catalog.operators.centroids import (
        centroid_outliers, group_centroids)
    df = spark.createDataFrame(
        [(0, "A", [0.0, 0.0]), (1, "A", [2.0, 0.0]),
         (2, "A", [0.0, 2.0]), (3, "A", [10.0, 10.0])],
        "vec_id long, label string, embedding array<double>")
    cents = {r.label: r.centroid for r in
             group_centroids(df, "label").collect()}
    assert cents == {"A": [3.0, 3.0]}
    got = {r.vec_id: (r.d2, r.outlier) for r in
           centroid_outliers(df, "label", factor_num=21,
                             factor_den=20).collect()}
    assert got == {0: (18.0, False), 1: (10.0, False),
                   2: (10.0, False), 3: (98.0, True)}


def test_centroid_outliers_singleton_group_not_outlier(spark):
    from training_catalog.operators.centroids import \
        centroid_outliers
    df = spark.createDataFrame(
        [(0, "solo", [5.0, 5.0])],
        "vec_id long, label string, embedding array<double>")
    row = centroid_outliers(df, "label").first()
    assert row.d2 == 0.0 and row.outlier is False


def test_centroid_outliers_partitioning_independence(spark):
    from training_catalog.operators.centroids import \
        centroid_outliers
    from training_catalog.sources.tables import load_table
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = sorted(map(tuple, centroid_outliers(
        emb, factor_num=21, factor_den=20).collect()))
    b = sorted(map(tuple, centroid_outliers(
        emb.repartition(13, "vec_id"), factor_num=21,
        factor_den=20).collect()))
    assert a == b
    assert any(r[3] for r in a)            # non-vacuous at SF_SMOKE


# ---------------------------------------------------------------------------
# SCD2 history + Z-order layout
# ---------------------------------------------------------------------------


def test_scd2_versions_chain_and_current(spark, tmp_path):
    """Versions are dense per key in (ts, event_id) order; each row's
    valid_to equals the next row's valid_from; exactly one open current
    row per key; same-timestamp ties order by event_id."""
    import datetime

    from pyspark.sql import functions as F

    from training_catalog.plans import QUERIES

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [(101, ts(0), 7, "a", 1.0, "{}"),
            (102, ts(60), 7, "a", 1.0, "{}"),
            (103, ts(60), 7, "a", 1.0, "{}"),     # tie → event_id order
            (201, ts(5), 8, "a", 1.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        ((r.user_id, r.event_id, r.version, r.valid_from_us,
          r.valid_to_us, r.is_current)
         for r in QUERIES["scd2_user_history"](
             spark, str(tmp_path)).collect()))
    base = int(t0.timestamp()) * 1_000_000
    assert got == [
        (7, 101, 1, base, base + 60_000_000, False),
        (7, 102, 2, base + 60_000_000, base + 60_000_000, False),
        (7, 103, 3, base + 60_000_000, None, True),
        (8, 201, 1, base + 5_000_000, None, True)]


def test_morton_interleave_known_vectors(spark):
    from pyspark.sql import functions as F

    from training_catalog.plans.training import _morton

    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long")
    got = [r.z for r in df.select(
        _morton(F.col("x"), F.col("y")).alias("z")).collect()]

    def ref(x, y):
        return sum((((x >> k) & 1) << (2 * k))
                   | (((y >> k) & 1) << (2 * k + 1)) for k in range(16))

    assert got == [1, 2, 39, (1 << 32) - 1]
    assert got == [ref(1, 0), ref(0, 1), ref(3, 5), ref(65535, 65535)]


def test_zorder_files_are_local_in_both_dims(spark):
    """The point of the layout: per-file min/max ranges are TIGHT in
    both dimensions relative to the data extent, so a predicate on
    either dimension prunes files.  On a uniform 256×256 grid with a
    2¹²-code file width, every Morton-prefix file is exactly a 64×64
    tile (range 63 per dim, 1/4 of the extent) — checked exactly."""
    from pyspark.sql import functions as F

    from training_catalog.plans.training import _zorder_stats

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("cust"),
        (F.col("id") / 256).cast("long").alias("day"))
    stats = _zorder_stats(grid, file_shift=12).collect()
    assert len(stats) == 16            # 2^16 codes / 2^12 per file
    for r in stats:
        assert r.n_rows == 64 * 64
        assert r.max_cust - r.min_cust == 63
        assert r.max_day - r.min_day == 63


def test_profile_table_sketch_error_bounds(spark):
    from training_catalog.plans import QUERIES
    approx = {r["column"]: r for r in
              QUERIES["profile_table_sketch"](spark, SF_SMOKE).collect()}
    exact = {r["column"]: r for r in
             QUERIES["profile_table_stats"](spark, SF_SMOKE).collect()}
    assert set(approx) == set(exact)
    for col, a in approx.items():
        e = exact[col]
        # everything except the distinct count is EXACT — same formulas
        assert (a.n_rows, a.n_nulls, a.min_c, a.max_c, a.sum_c) == \
            (e.n_rows, e.n_nulls, e.min_c, e.max_c, e.sum_c), col
        # HLL++ rsd 2.5%: allow 3 standard errors (plus slack of 2 for
        # tiny cardinalities where the sparse encoding is exact anyway)
        assert abs(a.approx_distinct - e.n_distinct) <= \
            max(2, 3 * 0.025 * e.n_distinct), col


def test_quantiles_sketch_rank_error_bound(spark):
    """Greenwald-Khanna guarantee: an approx p-quantile's RANK is within
    ±n/accuracy of p·n.  Checked against the actual per-status ranks."""
    from training_catalog.plans import QUERIES

    approx = {r.o_orderstatus: (r.q25, r.q50, r.q75) for r in
              QUERIES["quantiles_sketch"](spark, SF_SMOKE).collect()}
    orders = (load_table(spark, SF_SMOKE, "orders")
              .select("o_orderstatus",
                      F.round(F.col("o_totalprice") * 100, 0)
                      .cast("long").alias("v")))
    rows = orders.collect()
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r.o_orderstatus, []).append(r.v)
    for status, vals in by_status.items():
        vals.sort()
        n = len(vals)
        for p, v in zip((0.25, 0.5, 0.75), approx[status]):
            rank_lo = sum(1 for x in vals if x < v)
            rank_hi = sum(1 for x in vals if x <= v)
            target = p * n
            slack = n / 10000 + 1
            assert rank_lo - slack <= target <= rank_hi + slack, (
                status, p, v, rank_lo, rank_hi, target)


def test_compaction_plan_groups_contiguous_and_bounded(spark):
    """Groups are contiguous runs in file_id order; every group's total
    stays within the row target unless it is a single oversized file."""
    from training_catalog.plans import QUERIES
    from training_catalog.plans.training import _COMPACT_TARGET

    rows = sorted(QUERIES["compaction_plan"](spark, SF_SMOKE).collect(),
                  key=lambda r: r.file_id)
    assert rows
    # contiguity: group ids are non-decreasing and step by ≤ 1
    gids = [r.group_id for r in rows]
    assert gids[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(gids, gids[1:]))
    fills: dict = {}
    for r in rows:
        fills.setdefault(r.group_id, []).append(r.n_rows)
    for g, ns in fills.items():
        assert sum(ns) <= _COMPACT_TARGET or len(ns) == 1, (g, ns)


def test_file_skipping_prunes_majority_for_narrow_predicates(spark):
    """The Z-order layout must actually pay: across the 10 day-range
    predicates (each 1/10 of the date domain), min/max stats prune a
    majority of file-reads overall."""
    from training_catalog.plans import QUERIES

    rows = QUERIES["file_skipping_stats"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    total_reads = sum(r.n_files for r in rows)
    skipped = sum(r.n_skipped for r in rows)
    assert skipped * 2 > total_reads, (skipped, total_reads)
    for r in rows:
        assert 0 <= r.n_skipped <= r.n_files
        assert 0 <= r.rows_scanned <= r.rows_total


# --- per-source unigram divergence (round 12) ---------------------------------

def test_source_unigram_kl_hand_computed(spark, tmp_path):
    """KL/JS pinned on a two-source corpus small enough to hand-derive:
    src A = 'x x y' (x:2 y:1), src B = 'x z' (x:1 z:1); corpus x:3 y:1
    z:1, tot 5.  Expected values computed from the same closed forms in
    python — including the (1−Q_S)·ln2 tail that replaces the
    out-of-support half of the JS sum — and compared after the shared
    4-decimal rounding."""
    import math

    from training_catalog.plans import QUERIES
    from training_catalog.plans.training import _LN2

    docs = [(0, "x x y", "A"), (1, "x z", "B")]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string, "
        "n_chars long") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))

    def expected(counts, corpus, tot):
        ts = sum(counts.values())
        kl = js_p = js_q = qs = 0.0
        for w, c in counts.items():
            p, q = c / ts, corpus[w] / tot
            kl += p * math.log(p / q)
            m = (p + q) / 2.0
            js_p += p * math.log(p / m)
            js_q += q * math.log(q / m)
            qs += q
        return (round(qs, 4), round(kl, 4),
                round(0.5 * js_p + 0.5 * (js_q + (1.0 - qs) * _LN2), 4))

    corpus = {"x": 3, "y": 1, "z": 1}
    exp = {"A": expected({"x": 2, "y": 1}, corpus, 5),
           "B": expected({"x": 1, "z": 1}, corpus, 5)}
    got = {r["source"]: r for r in
           QUERIES["source_unigram_kl"](spark, str(tmp_path)).collect()}
    assert set(got) == {"A", "B"}
    assert (got["A"]["n_words"], got["A"]["n_distinct"]) == (3, 2)
    assert (got["B"]["n_words"], got["B"]["n_distinct"]) == (2, 2)
    for s in ("A", "B"):
        assert (got[s]["coverage_q"], got[s]["kl_to_corpus"],
                got[s]["js_to_corpus"]) == exp[s], s
    # A is closer to the corpus than B (it carries 3/5 of the mass)
    assert got["A"]["kl_to_corpus"] < got["B"]["kl_to_corpus"]
    assert got["A"]["js_to_corpus"] < got["B"]["js_to_corpus"]
