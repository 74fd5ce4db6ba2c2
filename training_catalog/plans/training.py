"""Training-data pipeline catalog extension — the corpus-management
operators a 100 TB LLM-data pipeline needs beyond dedup/similarity:

- ``cdc_merge_upsert``   : key+version lakehouse merge (latest wins, update
                           beats base on ties, tombstone deletes)
- ``sample_stratified``  : deterministic md5-bucket stratified sampling
- ``quantiles_exact``    : percentile_cont from one sort-shuffle + broadcast
                           rank lookup (exact score cut-points)
- ``tfidf_doc_terms``    : pure-Catalyst TF-IDF posting weights (bit-exact
                           ratio-idf variant so the oracle can hash-match)
- ``sketch_doc_stats``   : HLL distinct + t-digest median per language
                           (approximate by design → no oracle; the error
                           bound vs the exact answer is pinned in
                           tests/test_training_ops.py)

Every query registers into ``analytics.QUERIES`` via the shared decorator
and (except the sketch) appends its DuckDB twin to ``oracles.ORACLES``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.merge import merge_upsert
from ..operators.quantiles import exact_quantiles
from ..operators.sampling import _threshold, stratified_hash_sample
from ..operators.tfidf import tfidf
from .analytics import _cents, _t, query
from .oracles import ORACLES

# ---------------------------------------------------------------------------
# CDC merge / upsert — latest-version-wins with tombstones
# ---------------------------------------------------------------------------

@query("cdc_merge_upsert")
def cdc_merge_upsert(spark, sf_dir):
    """Base snapshot = orders@v1; change stream = every 3rd key re-priced
    and re-statused at v2, every 15th key a tombstone.  One hash-shuffle on
    the key, resolved map-side-partial via max_by((version, src))."""
    orders = (_t(spark, sf_dir, "orders")
              .select("o_orderkey", "o_orderstatus",
                      _cents(F.col("o_totalprice")).alias("price_c")))
    base = (orders.withColumn("version", F.lit(1))
            .withColumn("deleted", F.lit(False)))
    updates = (orders.filter(F.col("o_orderkey") % 3 == 0)
               .select("o_orderkey",
                       F.lit("X").alias("o_orderstatus"),
                       (F.col("price_c") + 1000).alias("price_c"),
                       F.lit(2).alias("version"),
                       (F.col("o_orderkey") % 15 == 0).alias("deleted")))
    return merge_upsert(base, updates, ["o_orderkey"], "version",
                        delete_col="deleted")


ORACLES["cdc_merge_upsert"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         1 AS version, false AS deleted, 0 AS src
  FROM orders
), upd AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, price_c + 1000 AS price_c,
         2 AS version, o_orderkey % 15 = 0 AS deleted, 1 AS src
  FROM base WHERE o_orderkey % 3 = 0
), u AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd
), w AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn
  FROM u
)
SELECT o_orderkey, o_orderstatus, price_c, version
FROM w WHERE rn = 1 AND NOT deleted
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — md5-bucket, reproducible cross-engine
# ---------------------------------------------------------------------------

_FRACTIONS = {"O": 0.2, "F": 0.1, "P": 0.5}


@query("sample_stratified")
def sample_stratified(spark, sf_dir):
    """Source-weighted corpus mix: keep 20% of 'O', 10% of 'F', 50% of 'P'
    orders, selected by stable key hash — a narrow no-shuffle filter that
    yields the identical sample on any engine, cluster layout, or rerun."""
    orders = _t(spark, sf_dir, "orders")
    return (stratified_hash_sample(orders, "o_orderkey", "o_orderstatus",
                                   _FRACTIONS)
            .select("o_orderkey", "o_orderstatus"))


ORACLES["sample_stratified"] = f"""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) <
      CASE o_orderstatus
        WHEN 'O' THEN '{_threshold(_FRACTIONS["O"])}'
        WHEN 'F' THEN '{_threshold(_FRACTIONS["F"])}'
        WHEN 'P' THEN '{_threshold(_FRACTIONS["P"])}'
        ELSE '0000' END
"""


# ---------------------------------------------------------------------------
# Per-source document cap — RefinedWeb-style domain balancing
# ---------------------------------------------------------------------------

_CAP_PER_SOURCE = 40


@query("sample_cap_per_source")
def sample_cap_per_source(spark, sf_dir):
    """Cap every source at 40 documents, survivors picked by stable md5
    rank — the per-domain cap that stops mega-hosts dominating a corpus
    mix.  Skew-safe two-phase top-k (``operators/sampling.py::
    cap_per_group``): hot sources split across 32 hash buckets before the
    per-group window, so no single task owns a mega-domain."""
    from ..operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return (cap_per_group(docs, "doc_id", "source", _CAP_PER_SOURCE)
            .select("doc_id", "source"))


ORACLES["sample_cap_per_source"] = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)),
                      CAST(doc_id AS VARCHAR)) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= {_CAP_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# Exact quantiles — percentile_cont per group, bit-exact interpolation
# ---------------------------------------------------------------------------

@query("quantiles_exact")
def quantiles_exact(spark, sf_dir):
    """Quartile cut-points of order value per status.  Integer-cent inputs
    + quarter probs make every interpolation step exactly representable, so
    the doubles hash-match the oracle bitwise."""
    orders = (_t(spark, sf_dir, "orders")
              .select("o_orderstatus",
                      _cents(F.col("o_totalprice")).alias("price_c")))
    return exact_quantiles(orders, "price_c", ["o_orderstatus"],
                           [0.25, 0.5, 0.75])


ORACLES["quantiles_exact"] = """
WITH src AS (
  SELECT o_orderstatus AS g,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
  FROM orders
), ranked AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS rn
  FROM src
), targets AS (
  SELECT g, n, p,
         CAST(floor(p * (n - 1)) AS BIGINT) AS k,
         p * (n - 1) - floor(p * (n - 1)) AS frac
  FROM (SELECT g, count(*) AS n FROM src GROUP BY g)
  CROSS JOIN (SELECT unnest(CAST([0.25, 0.5, 0.75] AS DOUBLE[])) AS p)
), cand AS (
  SELECT t.g, t.p, t.frac, r.rn, r.v, t.k
  FROM targets t JOIN ranked r
    ON r.g = t.g AND (r.rn = t.k OR (t.frac > 0 AND r.rn = t.k + 1))
), agg AS (
  SELECT g, p, frac,
         min(CASE WHEN rn = k THEN v END) AS a,
         coalesce(min(CASE WHEN rn = k + 1 THEN v END),
                  min(CASE WHEN rn = k THEN v END)) AS b
  FROM cand GROUP BY g, p, frac
)
SELECT g AS o_orderstatus, p, a + frac * (b - a) AS q FROM agg
"""


# ---------------------------------------------------------------------------
# TF-IDF posting weights — ratio-idf variant (bit-exact cross-engine)
# ---------------------------------------------------------------------------

@query("tfidf_doc_terms")
def tfidf_doc_terms(spark, sf_dir):
    """Postings with tf ≥ 3: term frequency, document frequency, and the
    exact ratio-idf weight tf·N/df.  Tokenize→tf is a map-side-partial
    groupBy; df is vocabulary-sized and joins back on term (AQE broadcasts
    when it fits); N is a broadcast 1-row aggregate, not a collect."""
    docs = _t(spark, sf_dir, "documents")
    return (tfidf(docs, "doc_id", "text", variant="ratio")
            .filter(F.col("tf") >= 3))


ORACLES["tfidf_doc_terms"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n FROM documents
)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       (tf.tf * n.n) / dfreq.df AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
WHERE tf.tf >= 3
"""


# ---------------------------------------------------------------------------
# BM25 top-k retrieval — exact-integer variant (oracle-checkable)
# ---------------------------------------------------------------------------

# The benchmark-probe query set a decontamination pass would use; tiny by
# construction, broadcast onto the posting list inside bm25_topk.
BM25_QUERIES = [
    (1, "spark window agg"),
    (2, "customer order query"),
    (3, "hash join table"),
    (4, "slow scan vector"),
]


@query("bm25_topk_docs")
def bm25_topk_docs(spark, sf_dir):
    """Top-10 documents per probe query under exact-integer BM25
    (operators/bm25.py): one posting-list shuffle, query terms broadcast,
    per-term scores quantized to 1e-6 and summed as integers so the rank
    and score are deterministic under any aggregation order."""
    from ..operators.bm25 import bm25_topk
    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(BM25_QUERIES,
                                    "query_id int, query_text string")
    return bm25_topk(docs, queries, k=10, variant="exact")


def _bm25_oracle() -> str:
    qvals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n, sum(dl) AS t FROM dl
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qraw(query_id, query_text) AS (VALUES {qvals}),
q AS (
  SELECT DISTINCT query_id,
         unnest(regexp_extract_all(lower(query_text), '[a-z]+')) AS term
  FROM qraw
), cand AS (
  SELECT q.query_id, tf.doc_id,
         CAST(round(
           ((2*s.n - 2*dfreq.df + 1) * (22 * s.t * tf.tf))
           / ((2*dfreq.df + 1) * (10 * s.t * tf.tf + 3 * s.t
                                  + 9 * dl.dl * s.n))
           * 1000000, 0) AS BIGINT) AS s_int
  FROM q
  JOIN tf USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
), sc AS (
  SELECT query_id, doc_id, sum(s_int) AS s_int
  FROM cand GROUP BY query_id, doc_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY s_int DESC, doc_id) AS INT) AS rank,
       doc_id,
       s_int / 1000000.0 AS score
FROM sc
QUALIFY rank <= 10
"""


ORACLES["bm25_topk_docs"] = _bm25_oracle()


# ---------------------------------------------------------------------------
# Approximate sketches — HLL distinct + t-digest median (no oracle: the
# estimates are implementation-defined; tests/test_training_ops.py pins the
# relative-error bound against the exact answers instead)
# ---------------------------------------------------------------------------

@query("sketch_doc_stats")
def sketch_doc_stats(spark, sf_dir):
    """Per-language corpus profile from constant-memory sketches: HLL++
    distinct sources + distinct texts, t-digest median length.  At 100 TB
    these replace exact distinct/median when a ±2% answer is enough — one
    map-side-partial pass, no sort, no giant hash tables."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.approx_count_distinct("source", 0.02)
                 .alias("approx_sources"),
                 F.approx_count_distinct("text", 0.02)
                 .alias("approx_texts"),
                 F.percentile_approx("n_chars", 0.5, 10000)
                 .alias("approx_median_chars"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Temperature-based corpus mixing — α=0.5 source re-weighting
# ---------------------------------------------------------------------------


@query("sample_temperature_mixture")
def sample_temperature_mixture(spark, sf_dir):
    """α=0.5 temperature mixing at a 2/5 global char budget: small
    sources are upsampled relative to bulk (weight ∝ √tokens).  The keep
    decision is a single integer inequality (no float thresholds), so
    the oracle reproduces the sample exactly — see
    ``operators/sampling.py::temperature_mixture_sample``."""
    from ..operators.sampling import temperature_mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return (temperature_mixture_sample(docs, "doc_id", "source", "n_chars",
                                       budget_num=2, budget_den=5,
                                       alpha=0.5, salt="mix")
            .select("doc_id", "source"))


ORACLES["sample_temperature_mixture"] = """
WITH t AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
  FROM documents GROUP BY source
), s AS (
  SELECT source, tok, CAST(floor(sqrt(tok)) AS BIGINT) AS r FROM t
), g AS (
  SELECT CAST(sum(r) AS BIGINT) AS sum_r,
         CAST(sum(tok) AS BIGINT) AS total
  FROM s
), u AS (
  SELECT d.doc_id, d.source, s.tok, s.r,
         (((hv1 * 16 + hv2) * 16 + hv3) * 16 + hv4) AS uval
  FROM documents d JOIN s USING (source),
  LATERAL (
    SELECT md5('mix' || CAST(d.doc_id AS VARCHAR)) AS h
  ) m,
  LATERAL (
    SELECT ascii(substr(m.h, 1, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 1, 1)) >= 97 THEN 39 ELSE 0 END AS hv1,
           ascii(substr(m.h, 2, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 2, 1)) >= 97 THEN 39 ELSE 0 END AS hv2,
           ascii(substr(m.h, 3, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 3, 1)) >= 97 THEN 39 ELSE 0 END AS hv3,
           ascii(substr(m.h, 4, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 4, 1)) >= 97 THEN 39 ELSE 0 END AS hv4
  ) hx
)
SELECT doc_id, source
FROM u CROSS JOIN g
WHERE uval * g.sum_r * u.tok < (g.total * 2 // 5) * u.r * 65536
"""


@query("sample_mixture_epochs")
def sample_mixture_epochs(spark, sf_dir):
    """Temperature mixing WITH repetition at a 3/2 budget (150% of the
    corpus): α=0.5 shares push small sources past one epoch, so their
    documents repeat with exact integer multiplicities — the full
    pretraining mixture (see
    ``operators/sampling.py::temperature_mixture_repeat``)."""
    from ..operators.sampling import temperature_mixture_repeat

    docs = _t(spark, sf_dir, "documents")
    return (temperature_mixture_repeat(docs, "doc_id", "source", "n_chars",
                                       budget_num=3, budget_den=2,
                                       alpha=0.5, salt="epochs")
            .select("doc_id", "source", "epoch"))


ORACLES["sample_mixture_epochs"] = """
WITH t AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
  FROM documents GROUP BY source
), s AS (
  SELECT source, tok, CAST(floor(sqrt(tok)) AS BIGINT) AS r FROM t
), g AS (
  SELECT CAST(sum(r) AS BIGINT) AS sum_r,
         CAST(sum(tok) AS BIGINT) AS total
  FROM s
), u AS (
  SELECT d.doc_id, d.source, s.tok, s.r,
         (((hv1 * 16 + hv2) * 16 + hv3) * 16 + hv4) AS uval
  FROM documents d JOIN s USING (source),
  LATERAL (
    SELECT md5('epochs' || CAST(d.doc_id AS VARCHAR)) AS h
  ) m,
  LATERAL (
    SELECT ascii(substr(m.h, 1, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 1, 1)) >= 97 THEN 39 ELSE 0 END AS hv1,
           ascii(substr(m.h, 2, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 2, 1)) >= 97 THEN 39 ELSE 0 END AS hv2,
           ascii(substr(m.h, 3, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 3, 1)) >= 97 THEN 39 ELSE 0 END AS hv3,
           ascii(substr(m.h, 4, 1)) - 48
           - CASE WHEN ascii(substr(m.h, 4, 1)) >= 97 THEN 39 ELSE 0 END AS hv4
  ) hx
), c AS (
  SELECT doc_id, source,
         ((g.total * 3 // 2) * r) // (g.sum_r * tok)
         + CASE WHEN uval * (g.sum_r * tok)
                     < (((g.total * 3 // 2) * r) % (g.sum_r * tok)) * 65536
                THEN 1 ELSE 0 END AS copies
  FROM u CROSS JOIN g
)
SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS INT) AS epoch
FROM c WHERE copies >= 1
"""


# ---------------------------------------------------------------------------
# Heavy hitters — exact vocabulary top-k + Space-Saving sketch
# ---------------------------------------------------------------------------


@query("vocab_top_terms")
def vocab_top_terms(spark, sf_dir):
    """Exact top-25 corpus terms (the vocabulary step of a tokenizer
    pipeline): partial+final count then TakeOrderedAndProject — each
    partition ships only its local top-k, no full sort
    (``operators/heavyhitters.py``)."""
    from ..operators.heavyhitters import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, "text", 25)


ORACLES["vocab_top_terms"] = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), counts AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
)
SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 25
"""


@query("heavy_hitters_sketch")
def heavy_hitters_sketch(spark, sf_dir):
    """Space-Saving approximate top-25 with shipped error bounds —
    bounded memory per partition + driver merge of P summaries; the
    scale path when the vocabulary itself is too large to shuffle.
    Approximate by design → no oracle; the bound
    (estimate − error ≤ true ≤ estimate) and the exact-degeneration
    property are pinned in tests/test_training_ops.py."""
    from ..operators.heavyhitters import space_saving_topk

    docs = _t(spark, sf_dir, "documents")
    return space_saving_topk(docs, "text", 25, capacity=256)


# ---------------------------------------------------------------------------
# Distributed k-means over the embedding corpus (operators/kmeans.py)
# ---------------------------------------------------------------------------

@query("kmeans_clusters")
def kmeans_clusters(spark, sf_dir):
    """Full-corpus Lloyd's k-means (k=8, 2 iterations, deterministic
    smallest-id init, centroids quantized to 6 decimals per update so the
    sequential SQL twin reproduces every assignment): per-cluster sizes
    and inertia.  The corpus never shuffles — each iteration is one
    mapInPandas pass of per-partition partial sums merged on the driver
    (≤ partitions × k rows), the same bounded-merge shape as the
    Space-Saving sketch."""
    from ..operators.kmeans import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    _, assign = kmeans_fit(emb, k=8, n_iter=2)
    return (assign.groupBy("cluster")
            .agg(F.count("*").alias("n_vectors"),
                 F.round(F.sum("d2"), 3).alias("inertia")))


_KM_D2 = ("(list_inner_product({v}, {v}) + list_inner_product({c}, {c})"
          " - 2 * list_inner_product({v}, {c}))")


def _km_assign(src_vec: str, cent_table: str) -> str:
    return (f"(SELECT t.cluster FROM {cent_table} t "
            f"ORDER BY {_KM_D2.format(v=src_vec, c='t.c')}, t.cluster "
            f"LIMIT 1)")


def _km_recenter(assign_table: str, prev_table: str, out: str) -> str:
    return f"""
{out}_m AS (
  -- dim derived from the data, not hardcoded: a testdata dim change must
  -- not silently skew centroids via out-of-range v[i] NULLs
  SELECT cluster, i, round(avg(v[i]), 6) AS x
  FROM {assign_table},
       (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i)
  GROUP BY cluster, i
), {out} AS (
  SELECT p.cluster,
         coalesce(m.c, p.c) AS c
  FROM {prev_table} p
  LEFT JOIN (SELECT cluster, list(x ORDER BY i) AS c
             FROM {out}_m GROUP BY cluster) m USING (cluster)
)"""


def _km_chain(k: int = 8) -> str:
    """The shared DuckDB Lloyd chain (two iterations unrolled): CTEs
    ``e`` (double vectors), ``init``, ``a1``/``c1``, ``a2``/``c2``.
    d2 uses the same v·v + c·c − 2·v·c expansion as the engine; centroids
    round to 6 decimals after init and after each elementwise mean."""
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         list_transform(v, x -> round(x, 6)) AS c
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
), a1 AS (
  SELECT vec_id, v, {_km_assign('e.v', 'init')} AS cluster FROM e
),{_km_recenter('a1', 'init', 'c1')}, a2 AS (
  SELECT vec_id, v, {_km_assign('e.v', 'c1')} AS cluster FROM e
),{_km_recenter('a2', 'c1', 'c2')}"""


def _kmeans_oracle() -> str:
    return f"""{_km_chain()}, fin AS (
  SELECT a.cluster,
         {_KM_D2.format(v='a.v', c='t.c')} AS d2
  FROM (SELECT vec_id, v, {_km_assign('e.v', 'c2')} AS cluster FROM e) a
  JOIN c2 t USING (cluster)
)
SELECT cluster, count(*) AS n_vectors, round(sum(d2), 3) AS inertia
FROM fin GROUP BY cluster
"""


ORACLES["kmeans_clusters"] = _kmeans_oracle()


# ---------------------------------------------------------------------------
# Logistic-regression quality classifier (operators/logreg.py)
# ---------------------------------------------------------------------------


@query("logreg_quality_scores")
def logreg_quality_scores(spark, sf_dir):
    """Distributed full-batch logistic regression (10 GD steps, lr=20,
    zero init, weights quantized to 6 decimals per step — the learned
    quality-filter stage): fit on ``label = 0`` vs rest, then score every
    vector.  The corpus never shuffles — each step is one mapInPandas
    pass of per-partition partial gradients (one (dim+1)-vector per
    partition) merged on the driver, the kmeans bounded-merge shape;
    scoring is a second shuffle-free pass.  lr/steps are calibrated to
    the synthetic corpus: 10 steps separate the classes measurably (mean
    p ≈ 0.124 positives vs 0.093 rest at sf0.01; a converged fit reaches
    0.26/0.08 — the short unroll keeps the oracle-checkable trajectory,
    the separation property is pinned in tests)."""
    from ..operators.logreg import logreg_fit, logreg_score

    emb = _t(spark, sf_dir, "embeddings")
    w = logreg_fit(emb, label=(F.col("label") == 0), n_iter=10, lr=20.0)
    return logreg_score(emb, w)


def _logreg_oracle(n_iter: int = 10, lr: float = 20.0) -> str:
    """DuckDB twin: the GD steps unrolled (generated).  Iteration 1 uses
    the exact all-zero init (sigma = 0.5 on every engine); each step
    rounds weights to 6 decimals — same quantization as the engine."""
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_append(CAST(embedding AS DOUBLE[]), 1.0) AS x,
         CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
  FROM embeddings
), dims AS MATERIALIZED (
  SELECT unnest(generate_series(1, (SELECT max(len(x)) FROM e))) AS i
), n AS MATERIALIZED (
  SELECT count(*) AS n FROM e
), g1 AS MATERIALIZED (
  SELECT i, sum(x[i] * (0.5 - y)) AS g FROM e, dims GROUP BY i
), w1 AS MATERIALIZED (
  SELECT i, round(0 - {lr} * g / n.n, 6) AS w FROM g1, n
), w1v AS MATERIALIZED (
  SELECT list(w ORDER BY i) AS wv FROM w1
)"""]
    for t in range(2, n_iter + 1):
        p, c = t - 1, t
        parts.append(f""", s{c} AS MATERIALIZED (
  SELECT vec_id, x, y,
         1.0 / (1.0 + exp(-list_inner_product(w{p}v.wv, x))) AS s
  FROM e CROSS JOIN w{p}v
), g{c} AS MATERIALIZED (
  SELECT i, sum(x[i] * (s - y)) AS g FROM s{c}, dims GROUP BY i
), w{c} AS MATERIALIZED (
  SELECT w{p}.i, round(w{p}.w - {lr} * g{c}.g / n.n, 6) AS w
  FROM w{p} JOIN g{c} USING (i), n
), w{c}v AS MATERIALIZED (
  SELECT list(w ORDER BY i) AS wv FROM w{c}
)""")
    parts.append(f""", fin AS MATERIALIZED (
  SELECT vec_id,
         round(1.0 / (1.0 + exp(-list_inner_product(w{n_iter}v.wv, x))),
               6) AS p
  FROM e CROSS JOIN w{n_iter}v
)
SELECT vec_id, p, p >= 0.5 AS pred FROM fin
""")
    return "".join(parts)


ORACLES["logreg_quality_scores"] = _logreg_oracle()


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via k-means cluster pruning
# ---------------------------------------------------------------------------


@query("semdedup_keep")
def semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embedding corpus: the
    deterministic k-means fit (k=8, 2 iterations) bounds the pairwise
    cosine search to within-cluster, then each near-duplicate
    neighborhood (rounded cosine ≥ τ) keeps its preference-minimum
    (closest to centroid, ties to smaller id).  One corpus shuffle on
    ``cluster``; the quadratic is cluster-bounded — raise k to shrink it
    (``operators/semdedup.py``).  τ = 0.30 is calibrated to the synthetic
    corpus (64-d near-orthogonal gaussians top out at cosine ≈ 0.5, no
    planted twins): it prunes the top ~1% most-similar pairs, the same
    percentile the paper's ε targets on real embeddings."""
    from ..operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, n_iter=2, tau=0.30)


def _semdedup_oracle(tau: float = 0.30) -> str:
    cos = ("round(list_inner_product(f.v, g.v)"
           " / (sqrt(list_inner_product(f.v, f.v))"
           " * sqrt(list_inner_product(g.v, g.v))), 6)")
    return f"""{_km_chain()}, fin AS (
  SELECT a.vec_id, a.v, a.cluster,
         round({_KM_D2.format(v='a.v', c='t.c')}, 6) AS d2r
  FROM (SELECT vec_id, v, {_km_assign('e.v', 'c2')} AS cluster FROM e) a
  JOIN c2 t USING (cluster)
)
SELECT f.vec_id, f.cluster,
       NOT EXISTS (
         SELECT 1 FROM fin g
         WHERE g.cluster = f.cluster AND g.vec_id <> f.vec_id
           AND {cos} >= {tau}
           AND (g.d2r < f.d2r
                OR (g.d2r = f.d2r AND g.vec_id < f.vec_id))
       ) AS keep
FROM fin f
"""


ORACLES["semdedup_keep"] = _semdedup_oracle()


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring — the CCNet/FineWeb quality signal
# ---------------------------------------------------------------------------


@query("lm_perplexity_docs")
def lm_perplexity_docs(spark, sf_dir):
    """Mean ln P(w|prev) per document under a corpus-trained add-½
    smoothed bigram LM (the perplexity quality filter: CCNet scores web
    text with a trusted-corpus LM and drops the high-perplexity tail).
    Pure Catalyst — explode + two vocabulary-bounded aggregations + one
    posting-list join (``operators/lm_score.py``)."""
    from ..operators.lm_score import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs)


ORACLES["lm_perplexity_docs"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
  FROM documents
), pairs AS (
  SELECT doc_id,
         CASE WHEN u.i = 1 THEN '<s>' ELSE ts[u.i - 1] END AS prev,
         ts[u.i] AS w
  FROM tok,
  LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
), big AS (
  SELECT prev, w, count(*) AS cb FROM pairs GROUP BY prev, w
), ctx AS (
  SELECT prev, count(*) AS cp FROM pairs GROUP BY prev
), voc AS (
  SELECT count(DISTINCT w) AS v FROM pairs
), scored AS (
  SELECT p.doc_id,
         ln(CAST(b.cb * 2 + 1 AS DOUBLE) / (c.cp * 2 + voc.v)) AS logp
  FROM pairs p
  JOIN big b USING (prev, w)
  JOIN ctx c USING (prev)
  CROSS JOIN voc
)
SELECT doc_id, count(*) AS n_tokens,
       round(sum(logp) / count(*), 4) AS avg_logp
FROM scored GROUP BY doc_id
"""


@query("ppl_bucket_docs")
def ppl_bucket_docs(spark, sf_dir):
    """(bucket, n_docs, sum_tokens, min_logp, max_logp): CCNet's
    head/middle/tail corpus split — documents bucketed by perplexity
    TERCILES of the bigram-LM score (CCNet §4.3 keeps the head, trains
    on head+middle, drops the tail).  The tercile CUTPOINTS come from
    ONE exact interpolated-percentile aggregation over the (already
    rounded) per-document scores and broadcast as a 1-row frame;
    bucketing is a comparison against the cutpoints — deliberately NOT
    an ntile window, whose un-partitioned global sort would serialize
    the corpus through one task at scale.  Docs at a cutpoint go to the
    higher bucket (>= comparisons), matching the oracle exactly because
    both engines compute the identical interpolated double."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage
    from ..operators.lm_score import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    scores = truncate_lineage(bigram_logprob(docs), eager=False)
    cuts = scores.agg(
        F.expr("percentile(avg_logp, CAST(1 AS DOUBLE)/3)").alias("c13"),
        F.expr("percentile(avg_logp, CAST(2 AS DOUBLE)/3)").alias("c23"))
    bucket = (F.when(F.col("avg_logp") >= F.col("c23"), F.lit("head"))
              .when(F.col("avg_logp") >= F.col("c13"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (scores.crossJoin(F.broadcast(cuts))
            .withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("sum_tokens"),
                 F.min("avg_logp").alias("min_logp"),
                 F.max("avg_logp").alias("max_logp")))


ORACLES["ppl_bucket_docs"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
  FROM documents
), pairs AS (
  SELECT doc_id,
         CASE WHEN u.i = 1 THEN '<s>' ELSE ts[u.i - 1] END AS prev,
         ts[u.i] AS w
  FROM tok,
  LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
), big AS (
  SELECT prev, w, count(*) AS cb FROM pairs GROUP BY prev, w
), ctx AS (
  SELECT prev, count(*) AS cp FROM pairs GROUP BY prev
), voc AS (
  SELECT count(DISTINCT w) AS v FROM pairs
), sc AS (
  SELECT p.doc_id,
         ln(CAST(b.cb * 2 + 1 AS DOUBLE) / (c.cp * 2 + voc.v)) AS logp
  FROM pairs p
  JOIN big b USING (prev, w)
  JOIN ctx c USING (prev)
  CROSS JOIN voc
), scores AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(sum(logp) / count(*), 4) AS avg_logp
  FROM sc GROUP BY doc_id
), cuts AS (
  SELECT quantile_cont(avg_logp, CAST(1 AS DOUBLE)/3) AS c13,
         quantile_cont(avg_logp, CAST(2 AS DOUBLE)/3) AS c23
  FROM scores
)
SELECT CASE WHEN s.avg_logp >= cuts.c23 THEN 'head'
            WHEN s.avg_logp >= cuts.c13 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tokens) AS BIGINT) AS sum_tokens,
       min(s.avg_logp) AS min_logp,
       max(s.avg_logp) AS max_logp
FROM scores s CROSS JOIN cuts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DSIR importance selection (operators/dsir.py)
# ---------------------------------------------------------------------------


def _md5_u16_sql(salt: str, expr: str) -> str:
    """The `operators/sampling._uniform_int` decode in DuckDB SQL:
    uniform int in [0, 65535] from md5(salt || expr), digit-by-digit
    (recomputes the md5 per digit — fine at oracle scale)."""
    h = f"md5('{salt}' || {expr})"

    def hv(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"

    return f"((({hv(1)} * 16 + {hv(2)}) * 16 + {hv(3)}) * 16 + {hv(4)})"


@query("dsir_select_docs")
def dsir_select_docs(spark, sf_dir):
    """DSIR (Xie et al. 2023) targeting the English slice: hashed-bigram
    (256 buckets) add-½ importance weights ln Π p_en/p_raw per document,
    deterministic md5 Gumbel noise, keep the top 100 by (rounded score,
    doc_id).  The model is bucket-count-bounded and broadcast; the
    corpus shuffles once on doc_id for the per-doc reduction
    (``operators/dsir.py``)."""
    from ..operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(docs, F.col("lang") == "en", k=100)


def _dsir_oracle(k: int = 100, n_buckets: int = 256) -> str:
    bucket = _md5_u16_sql("dsir", "prev || ' ' || w")
    u = _md5_u16_sql("dsir:g", "CAST(doc_id AS VARCHAR)")
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
  FROM documents
), p AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN u.i = 1 THEN '<s>' ELSE ts[u.i - 1] END AS prev,
         ts[u.i] AS w
  FROM tok,
  LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
), pb AS MATERIALIZED (
  SELECT doc_id, ({bucket}) % {n_buckets} AS bucket FROM p
), cr AS (
  SELECT bucket, count(*) AS c_r FROM pb GROUP BY bucket
), ct AS (
  SELECT bucket, count(*) AS c_t
  FROM pb JOIN documents USING (doc_id)
  WHERE lang = 'en' GROUP BY bucket
), model AS MATERIALIZED (
  SELECT cr.bucket, c_r, coalesce(c_t, 0) AS c_t
  FROM cr LEFT JOIN ct USING (bucket)
), tot AS MATERIALIZED (
  SELECT CAST(sum(c_r) AS BIGINT) AS nr, CAST(sum(c_t) AS BIGINT) AS nt
  FROM model
), sc AS (
  SELECT doc_id, count(*) AS n_feats,
         sum(ln(CAST(c_t * 2 + 1 AS DOUBLE) / (c_r * 2 + 1))) AS s
  FROM pb JOIN model USING (bucket) GROUP BY doc_id
), g AS (
  SELECT doc_id, n_feats,
         round(s + n_feats * ln(CAST(nr * 2 + {n_buckets} AS DOUBLE)
                                / (nt * 2 + {n_buckets}))
               + (- ln(- ln((({u}) + 0.5) / 65536.0))), 4) AS score
  FROM sc CROSS JOIN tot
)
SELECT doc_id, n_feats, score,
       row_number() OVER (ORDER BY score DESC, doc_id) <= {k} AS kept
FROM g
"""


ORACLES["dsir_select_docs"] = _dsir_oracle()


# ---------------------------------------------------------------------------
# Prototype-distance outlier pruning (operators/centroids.py)
# ---------------------------------------------------------------------------


@query("centroid_outlier_docs")
def centroid_outlier_docs(spark, sf_dir):
    """Per-label embedding centroid + squared distance to the own-label
    prototype; vectors beyond 1.05× the label's mean d2 flag as outliers
    (the synthetic 64-d gaussians concentrate hard: max d2/mean ≈ 1.12,
    so 1.05 prunes the top ~10% tail — on real clustered embeddings the
    factor is the knob)
    (the mislabeled/noisy-example pruning step).  Centroid model is
    labels × dim rows (broadcast); d2 is JVM-side
    ``aggregate``/``zip_with`` — no Python anywhere
    (``operators/centroids.py``)."""
    from ..operators.centroids import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, factor_num=21, factor_den=20)


ORACLES["centroid_outlier_docs"] = """
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cm AS (
  SELECT label, i, round(avg(v[i]), 6) AS m
  FROM e,
       (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i)
  GROUP BY label, i
), c AS MATERIALIZED (
  SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY label
), d AS MATERIALIZED (
  SELECT vec_id, e.label,
         round(list_inner_product(v, v) + list_inner_product(c.c, c.c)
               - 2 * list_inner_product(v, c.c), 6) AS d2
  FROM e JOIN c USING (label)
), m AS (
  SELECT label, round(avg(d2), 6) AS md FROM d GROUP BY label
)
SELECT vec_id, label, d2, d2 * 20 > m.md * 21 AS outlier
FROM d JOIN m USING (label)
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# local document fingerprinting algorithm): hash every K-word k-gram,
# slide a W-hash window, select the window minimum (rightmost on ties),
# and pair documents by shared selected fingerprints.  The winnowing
# GUARANTEE: any shared run of ≥ W+K−1 words yields a shared selected
# fingerprint, while only ~2/(W+1) of all k-gram hashes survive — the
# posting that shuffles for the pair join is winnowed to a fraction of
# the full shingle posting (the standard code-corpus dedup signal).
# ---------------------------------------------------------------------------

_WINNOW_K = 8     # k-gram width in words
_WINNOW_W = 4     # winnow window in hashes → detects runs ≥ 11 words
_WINNOW_POS_BASE = 2 ** 23  # key = h·2^23 + (2^23−1−pos): min(key) is the
#                             min-hash with RIGHTMOST tie-break.  h < 2^40
#                             so key ≤ 2^63−1 — the full int64 range, no
#                             overflow.  Bounds docs at 2^23 ≈ 8.4M
#                             k-grams (~64 MB of text); enforced with a
#                             per-row raise_error in winnow_fingerprints,
#                             so an over-long doc fails LOUDLY instead of
#                             wrapping the packed key into silently wrong
#                             fingerprints.


def winnow_fingerprints(docs, B=_WINNOW_POS_BASE):
    """(doc_id, h) — distinct winnowed fingerprint hashes for a
    (doc_id, text, ...) frame.  Shared by the batch pair query and the
    streaming twin so both select IDENTICAL fingerprints.
    Hash = first 10 hex chars of md5(k-gram) as BIGINT (< 2⁴⁰, so the
    pos-packed tie-break key stays exact in int64)."""
    from ..operators.barrier import spread_input

    K, W = _WINNOW_K, _WINNOW_W
    # spread_input: the md5 k-gram chain otherwise runs as ONE scan task
    # on single-row-group bench input (no-op at scale and on the
    # streaming twin's per-batch frames, which have no input files)
    docs = spread_input(docs)
    kg = (docs.select("doc_id", T.words(F.col("text")).alias("ws"))
          .filter(F.size("ws") >= K)
          .select("doc_id",
                  (F.size("ws") - K + 1).alias("nk"),
                  F.posexplode(F.transform(
                      F.sequence(F.lit(0), F.size("ws") - K),
                      lambda i: F.conv(F.substring(
                          F.md5(F.concat_ws(
                              " ", F.slice("ws", i + 1, K))), 1, 10),
                          16, 10).cast("long")))
                  .alias("pos", "h")))
    # the guard lives INSIDE the key expression so column pruning can
    # never drop it: pos ≥ B would make (B−1−pos) negative and decode
    # to h−1 — silently wrong fingerprints the oracle (same formula)
    # could not catch
    pos_ck = F.when(F.col("pos") < B, F.col("pos")).otherwise(
        F.raise_error(F.format_string(
            "winnow: doc %s has ≥ %s k-grams — exceeds the pos-packed "
            "key base; raise _WINNOW_POS_BASE or shard the document",
            F.col("doc_id").cast("string"), F.lit(str(B)))).cast("int"))
    keyed = kg.select(
        "doc_id", "nk", "pos",
        (F.col("h") * B + (F.lit(B - 1) - pos_ck)).alias("key"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(0, W - 1))
    # winnowing selects per FULL window only: starts pos ≤ nk − W.
    # Decode with INTEGER div: keys exceed 2⁵³, so float division (`/`
    # + cast) rounds the mantissa and can decode h±1 for small pos —
    # cross-doc shared fingerprints at different positions then miss.
    return (keyed.withColumn("m", F.min("key").over(win))
            .filter(F.col("pos") <= F.col("nk") - W)
            .select("doc_id", F.expr(f"m div {B}").alias("h"))
            .distinct())


@query("winnow_fingerprint_pairs")
def winnow_fingerprint_pairs(spark, sf_dir):
    """(id_a, id_b, n_shared) — document pairs sharing ≥ 1 winnowed
    fingerprint, with the count of distinct shared fingerprint hashes."""
    from ..operators.barrier import materialize_now

    # One eager pass: the md5 k-gram + window + distinct chain otherwise
    # runs once per self-join side (no ReusedExchange across the
    # probe/broadcast-build stages; the streaming twin already persists
    # its per-batch fingerprints the same way).
    fp = materialize_now(winnow_fingerprints(_t(spark, sf_dir, "documents")))
    a = fp.toDF("id_a", "h")
    b = fp.toDF("id_b", "h")
    return (a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared")))


ORACLES["winnow_fingerprint_pairs"] = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), kg AS (
  SELECT doc_id, len(ws) - {_WINNOW_K} + 1 AS nk, u.i AS pos,
         ('0x' || substr(md5(array_to_string(
              list_slice(ws, u.i + 1, u.i + {_WINNOW_K}), ' ')), 1, 10)
          )::BIGINT AS h
  FROM w, LATERAL (SELECT unnest(generate_series(0, len(ws) - {_WINNOW_K}))
                     AS i) u
  WHERE len(ws) >= {_WINNOW_K}
), keyed AS (
  SELECT doc_id, nk, pos,
         h * {_WINNOW_POS_BASE}
           + ({_WINNOW_POS_BASE - 1} - pos) AS key
  FROM kg
), sel AS (
  SELECT doc_id, nk, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS m
  FROM keyed
), fp AS (
  SELECT DISTINCT doc_id, m // {_WINNOW_POS_BASE} AS h
  FROM sel WHERE pos <= nk - {_WINNOW_W}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fp a JOIN fp b USING (h)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# SCD2 history build (slowly-changing-dimension type 2): every change
# event becomes a VERSIONED validity interval — the lakehouse history
# table a warehouse derives from a CDC stream (the keep-history
# counterpart of ``cdc_merge_upsert``'s latest-wins snapshot).  Scale
# shape: one shuffle on the key; lead() windows partition per key
# (key-history-sized, never corpus-wide); timestamps exported as exact
# epoch-micros BIGINTs so the compare never touches tz rendering.
# ---------------------------------------------------------------------------


@query("scd2_user_history")
def scd2_user_history(spark, sf_dir):
    """(user_id, event_id, version, valid_from_us, valid_to_us,
    is_current): each user's events ordered (ts, event_id) become SCD2
    validity intervals — valid_to = next change's timestamp, open
    interval (null) + is_current on the latest."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.row_number().over(w).alias("version"),
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        F.lead("us").over(w).isNull().alias("is_current"))


ORACLES["scd2_user_history"] = """
SELECT user_id, event_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       lead(epoch_us(ts)) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Z-order data layout (Morton space-filling curve): interleave the bits
# of two clustering dimensions and range-bucket rows into files by the
# Z-code — the Delta/Iceberg Z-ORDER layout step.  The payoff is the
# per-file min/max stats this query emits: a predicate on EITHER
# dimension prunes files, because Z-locality keeps both dims tight per
# file.  Exact integer bit arithmetic end to end; no global sort (the
# file id is a code prefix, so assignment is embarrassingly parallel —
# at scale this is the repartitionByRange key, computed map-side).
# ---------------------------------------------------------------------------

_Z_BITS = 16          # bits per dimension → 32-bit Morton code
_Z_FILE_SHIFT = 20    # file id = zcode >> 20 → ≤ 4096 files


def _morton(x, y, bits: int = _Z_BITS):
    """Interleave: bit k of x → bit 2k, bit k of y → bit 2k+1."""
    z = F.lit(0).cast("long")
    for k in range(bits):
        z = z.bitwiseOR(F.shiftleft(
            F.shiftrightunsigned(x, k).bitwiseAND(F.lit(1)), 2 * k))
        z = z.bitwiseOR(F.shiftleft(
            F.shiftrightunsigned(y, k).bitwiseAND(F.lit(1)), 2 * k + 1))
    return z


def _zorder_stats(orders, file_shift: int):
    x = F.col("cust").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    y = F.col("day").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    z = _morton(x, y)
    return (orders
            .select("cust", "day",
                    F.shiftrightunsigned(z, file_shift).alias("file_id"))
            .groupBy("file_id")
            .agg(F.count("*").alias("n_rows"),
                 F.min("cust").alias("min_cust"),
                 F.max("cust").alias("max_cust"),
                 F.min("day").alias("min_day"),
                 F.max("day").alias("max_day")))


@query("zorder_file_stats")
def zorder_file_stats(spark, sf_dir):
    """(file_id, n_rows, min_cust, max_cust, min_day, max_day): orders
    Z-ordered on (customer key, order day since 1992-01-01), bucketed
    into files by the Morton-code prefix, with the min/max data-skipping
    stats per file that make the layout worth building."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long").alias("day"))
    return _zorder_stats(orders, _Z_FILE_SHIFT)


_Z_TERMS = " + ".join(
    f"((x // {1 << k}) % 2) * {1 << (2 * k)}"
    f" + ((y // {1 << k}) % 2) * {1 << (2 * k + 1)}"
    for k in range(_Z_BITS))

ORACLES["zorder_file_stats"] = f"""
WITH d AS (
  SELECT CAST(o_custkey AS BIGINT) AS cust,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
           AS day
  FROM orders
), coded AS (
  SELECT cust, day,
         (SELECT {_Z_TERMS}
          FROM (SELECT cust % {1 << _Z_BITS} AS x,
                       day % {1 << _Z_BITS} AS y)) AS z
  FROM d
)
SELECT z // {1 << _Z_FILE_SHIFT} AS file_id,
       count(*) AS n_rows,
       min(cust) AS min_cust, max(cust) AS max_cust,
       min(day) AS min_day, max(day) AS max_day
FROM coded GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-style column statistics): per-column row /
# null / exact-distinct counts and exact integer-cent min/max/sum in ONE
# pass — the stats a lakehouse keeps per table for CBO and data
# skipping.  Multiple exact count(DISTINCT) in one aggregate plan as a
# single-scan Expand (rows × #columns before partial aggregation) —
# one pass over the data, map-side combined; the approximate twin at
# vocabulary scale is ``sketch_doc_stats``'s HLL path.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query("profile_table_stats")
def profile_table_stats(spark, sf_dir):
    """(column, n_rows, n_nulls, n_distinct, min_c, max_c, sum_c) for
    lineitem's four measure columns, all exact integer cents."""
    from ..operators.barrier import spread_input

    # spread_input: the Expand×4 + distinct partial aggregation otherwise
    # run as ONE scan task on single-row-group bench input (no-op at
    # scale); projected to the four measure columns first (guide §2.3)
    li = spread_input(_t(spark, sf_dir, "lineitem")
                      .select(*_PROFILE_COLS))
    cents = {c: _cents(F.col(c)) for c in _PROFILE_COLS}
    aggs = []
    for c in _PROFILE_COLS:
        v = cents[c]
        aggs += [F.count(F.lit(1)).alias(f"{c}__n"),
                 F.sum(F.when(v.isNull(), 1).otherwise(0))
                 .alias(f"{c}__nn"),
                 F.countDistinct(v).alias(f"{c}__nd"),
                 F.min(v).alias(f"{c}__min"),
                 F.max(v).alias(f"{c}__max"),
                 F.sum(v).alias(f"{c}__sum")]
    wide = li.select(*_PROFILE_COLS).agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__min, {c}__max, {c}__sum"
        for c in _PROFILE_COLS)
    return wide.select(F.expr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_c, max_c, sum_c)"))


ORACLES["profile_table_stats"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}_c) AS n_nulls,
       count(DISTINCT {c}_c) AS n_distinct,
       min({c}_c) AS min_c, max({c}_c) AS max_c,
       CAST(sum({c}_c) AS BIGINT) AS sum_c
FROM (SELECT CAST(round({c} * 100, 0) AS BIGINT) AS {c}_c FROM lineitem)"""
    for c in _PROFILE_COLS)


@query("profile_table_sketch")
def profile_table_sketch(spark, sf_dir):
    """The sketch twin of ``profile_table_stats`` — the 100 TB path.

    The exact profile's four ``countDistinct`` compile to an Expand
    (one input row fans out 4×, once per distinct aggregate) and the
    distinct sets themselves shuffle.  This twin swaps them for HLL++
    (``approx_count_distinct``, rsd 2.5%%): every aggregate is then a
    plain partial-aggregable function, so the whole profile is ONE
    scan, NO Expand, constant per-column state (HLL registers) —
    CI-pinned in tests/test_plan_audits.py.  Approximate-by-design
    (no DuckDB oracle); error bound pinned in test_training_ops."""
    # NO spread_input (tried in the r12 campaign, reverted): unlike the
    # exact twin's Expand x4, the HLL partial aggregation is too light
    # for the extra Exchange — isolated A/B read 1.50 -> 2.30 s median
    # (see OPTIMIZATION_r12.md "spread_input re-measure")
    li = _t(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        v = _cents(F.col(c))
        aggs += [F.count(F.lit(1)).alias(f"{c}__n"),
                 F.sum(F.when(v.isNull(), 1).otherwise(0))
                 .alias(f"{c}__nn"),
                 F.approx_count_distinct(v, rsd=0.025).alias(f"{c}__nd"),
                 F.min(v).alias(f"{c}__min"),
                 F.max(v).alias(f"{c}__max"),
                 F.sum(v).alias(f"{c}__sum")]
    wide = li.select(*_PROFILE_COLS).agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__min, {c}__max, {c}__sum"
        for c in _PROFILE_COLS)
    return wide.select(F.expr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column, n_rows, n_nulls, approx_distinct, min_c, max_c, "
        "sum_c)"))


# ---------------------------------------------------------------------------
# Snapshot diff (table-version comparison): classify every key across
# two table versions as added / removed / changed — the audit a
# Delta/Iceberg pipeline runs between snapshots (and the verification
# step after a CDC backfill).  ONE full-outer hash join on the key;
# the change test compares a content digest, so wide rows ship one
# 32-char column to the join, not every field.  Version 2 is derived
# deterministically from orders: every 3rd key re-priced (changed),
# every 15th tombstoned (removed), one synthetic new key per 7th
# (added) — unchanged keys are filtered out, as a diff should.
# ---------------------------------------------------------------------------


@query("snapshot_diff")
def snapshot_diff(spark, sf_dir):
    """(o_orderkey, change_type) for every key that differs between the
    base orders snapshot and its CDC-evolved successor."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        _cents(F.col("o_totalprice")).alias("price_c"))
    # v2: re-price %3 keys, drop %15 keys, add one new key per %7 key
    survived = (base.filter(F.col("o_orderkey") % 15 != 0)
                .withColumn("o_orderstatus",
                            F.when(F.col("o_orderkey") % 3 == 0, "X")
                            .otherwise(F.col("o_orderstatus")))
                .withColumn("price_c",
                            F.when(F.col("o_orderkey") % 3 == 0,
                                   F.col("price_c") + 1000)
                            .otherwise(F.col("price_c"))))
    added = (base.filter(F.col("o_orderkey") % 7 == 0)
             .select((F.col("o_orderkey") + F.lit(10 ** 9))
                     .alias("o_orderkey"),
                     F.lit("N").alias("o_orderstatus"), "price_c"))
    cur = survived.unionByName(added)

    def digest(df):
        return df.select(
            "o_orderkey",
            F.md5(F.concat_ws("|", "o_orderstatus",
                              F.col("price_c").cast("string")))
            .alias("dig"))

    b, c = digest(base).toDF("k", "bd"), digest(cur).toDF("k", "cd")
    return (b.join(c, "k", "full_outer")
            .withColumn("change_type", F.when(
                F.col("bd").isNull(), "added").when(
                F.col("cd").isNull(), "removed").when(
                F.col("bd") != F.col("cd"), "changed"))
            .filter(F.col("change_type").isNotNull())
            .select(F.col("k").alias("o_orderkey"), "change_type"))


ORACLES["snapshot_diff"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
), cur AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN price_c + 1000
              ELSE price_c END AS price_c
  FROM base WHERE o_orderkey % 15 != 0
  UNION ALL
  SELECT o_orderkey + 1000000000, 'N', price_c
  FROM base WHERE o_orderkey % 7 = 0
), bd AS (
  SELECT o_orderkey AS k,
         md5(o_orderstatus || '|' || CAST(price_c AS VARCHAR)) AS bd
  FROM base
), cd AS (
  SELECT o_orderkey AS k,
         md5(o_orderstatus || '|' || CAST(price_c AS VARCHAR)) AS cd
  FROM cur
)
SELECT coalesce(bd.k, cd.k) AS o_orderkey,
       CASE WHEN bd.k IS NULL THEN 'added'
            WHEN cd.k IS NULL THEN 'removed'
            WHEN bd.bd != cd.cd THEN 'changed' END AS change_type
FROM bd FULL OUTER JOIN cd ON bd.k = cd.k
WHERE (bd.k IS NULL OR cd.k IS NULL OR bd.bd != cd.cd)
"""


# ---------------------------------------------------------------------------
# Lakehouse maintenance, continued: the PAYOFF measurement and the
# compaction planner that complete the zorder/snapshot/SCD2 family.
# Both operate on the FILE-STATS rollup (≤ 4096 rows by layout, at any
# corpus scale) — maintenance planning reads stats, never data.
# ---------------------------------------------------------------------------

_SKIP_PREDS = 10       # day ∈ [q·240, q·240+239] — tiles the full
_SKIP_WIDTH = 240      # TPC-H 1992-1998 date domain at every SF


@query("file_skipping_stats")
def file_skipping_stats(spark, sf_dir):
    """(pred_id, lo_day, hi_day, n_files, n_skipped, rows_total,
    rows_scanned): for each of 10 order-day range predicates, how many
    Z-ordered files min/max stats prune, and the scan volume left — the
    measurement that justifies (or retires) a Z-order layout.  Stats ×
    10 broadcast predicate rows; no data-side work at all."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long").alias("day"))
    stats = _zorder_stats(orders, _Z_FILE_SHIFT)
    preds = spark.range(_SKIP_PREDS).select(
        F.col("id").alias("pred_id"),
        (F.col("id") * _SKIP_WIDTH).alias("lo_day"),
        (F.col("id") * _SKIP_WIDTH + _SKIP_WIDTH - 1).alias("hi_day"))
    j = stats.crossJoin(F.broadcast(preds))
    skip = (F.col("max_day") < F.col("lo_day")) | \
        (F.col("min_day") > F.col("hi_day"))
    return (j.groupBy("pred_id", "lo_day", "hi_day")
            .agg(F.count("*").alias("n_files"),
                 F.sum(F.when(skip, 1).otherwise(0)).alias("n_skipped"),
                 F.sum("n_rows").alias("rows_total"),
                 F.sum(F.when(~skip, F.col("n_rows")).otherwise(0))
                 .alias("rows_scanned")))


ORACLES["file_skipping_stats"] = f"""
WITH d AS (
  SELECT CAST(o_custkey AS BIGINT) AS cust,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
           AS day
  FROM orders
), coded AS (
  SELECT cust, day,
         (SELECT {_Z_TERMS}
          FROM (SELECT cust % {1 << _Z_BITS} AS x,
                       day % {1 << _Z_BITS} AS y)) AS z
  FROM d
), stats AS (
  SELECT z // {1 << _Z_FILE_SHIFT} AS file_id, count(*) AS n_rows,
         min(day) AS min_day, max(day) AS max_day
  FROM coded GROUP BY 1
), preds AS (
  SELECT q AS pred_id, q * {_SKIP_WIDTH} AS lo_day,
         q * {_SKIP_WIDTH} + {_SKIP_WIDTH - 1} AS hi_day
  FROM (SELECT unnest(generate_series(0, {_SKIP_PREDS - 1})) AS q)
)
SELECT pred_id, lo_day, hi_day, count(*) AS n_files,
       CAST(sum(CASE WHEN max_day < lo_day OR min_day > hi_day
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN max_day < lo_day OR min_day > hi_day
                     THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
FROM stats CROSS JOIN preds
GROUP BY 1, 2, 3
"""


_COMPACT_TARGET = 256      # rows per compacted output file (test scale)


@query("compaction_plan")
def compaction_plan(spark, sf_dir):
    """(file_id, n_rows, group_id): next-fit compaction groups over the
    Z-ordered files in file_id order (preserving the layout's sort), a
    group closing when the next file would push it past the row target —
    the OPTIMIZE planner a lakehouse runs against small files.  Oversized
    files keep their own group (left alone, the compaction convention).
    The sequential next-fit scan runs over the FILE-STATS frame (≤ 4096
    rows by construction), never the data — the same bounded-driver
    shape as the pack_sequences operator it reuses."""
    from ..operators.packing import pack_sequences

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long").alias("day"))
    stats = _zorder_stats(orders, _Z_FILE_SHIFT) \
        .select("file_id", "n_rows")
    return (pack_sequences(stats, "n_rows", "file_id",
                           _COMPACT_TARGET, by=None)
            .select("file_id", "n_rows",
                    F.col("bin_id").alias("group_id")))


ORACLES["compaction_plan"] = f"""
WITH RECURSIVE d AS (
  SELECT CAST(o_custkey AS BIGINT) AS cust,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
           AS day
  FROM orders
), coded AS (
  SELECT cust, day,
         (SELECT {_Z_TERMS}
          FROM (SELECT cust % {1 << _Z_BITS} AS x,
                       day % {1 << _Z_BITS} AS y)) AS z
  FROM d
), stats AS (
  SELECT z // {1 << _Z_FILE_SHIFT} AS file_id, count(*) AS n_rows
  FROM coded GROUP BY 1
), seq AS (
  SELECT file_id, n_rows,
         row_number() OVER (ORDER BY file_id) AS rn
  FROM stats
), pack AS (
  SELECT file_id, n_rows, rn, CAST(0 AS BIGINT) AS group_id,
         n_rows AS fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.file_id, s.n_rows, s.rn,
         CASE WHEN p.fill + s.n_rows <= {_COMPACT_TARGET}
              THEN p.group_id ELSE p.group_id + 1 END,
         CASE WHEN p.fill + s.n_rows <= {_COMPACT_TARGET}
              THEN p.fill + s.n_rows ELSE s.n_rows END
  FROM pack p JOIN seq s ON s.rn = p.rn + 1
)
SELECT file_id, n_rows, group_id FROM pack
"""


@query("quantiles_sketch")
def quantiles_sketch(spark, sf_dir):
    """The sketch twin of ``quantiles_exact`` — Greenwald-Khanna
    ``percentile_approx`` (accuracy 10000) per status.  The exact
    quartiles need a per-group sort (or the exact-rank join the oracle
    runs); the sketch is a plain partial-aggregable function — one pass,
    bounded state, the quantile path at corpus scale.
    Approximate-by-design (no oracle); the rank-error guarantee
    (±n/accuracy positions) is pinned in test_training_ops."""
    orders = (_t(spark, sf_dir, "orders")
              .select("o_orderstatus",
                      _cents(F.col("o_totalprice")).alias("price_c")))
    return (orders.groupBy("o_orderstatus")
            .agg(F.percentile_approx(
                "price_c", [0.25, 0.5, 0.75], 10000).alias("qs"))
            .select("o_orderstatus",
                    F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75")))


# ---------------------------------------------------------------------------
# Dataset audits: tokenizer coverage and cross-source leakage — the two
# reports a data team runs before committing a corpus to training.
# ---------------------------------------------------------------------------

_VOCAB_K = 100        # top-K corpus terms = the "tokenizer vocabulary"


@query("oov_rate_docs")
def oov_rate_docs(spark, sf_dir):
    """(doc_id, n_tokens, n_oov, oov_pm): per-document out-of-vocabulary
    rate against the corpus top-K term vocabulary (ties broken by term,
    exact integer per-mille) — the tokenizer-coverage report.  The
    vocabulary is corpus-derived (one agg + one top-K sort of K rows)
    and BROADCASTS to the per-doc join; token-less docs report 0/0/0."""
    from ..operators.barrier import spread_input

    # spread_input before the regex tokenize (single-row-group bench
    # input = one scan task otherwise; no-op at scale)
    docs = spread_input(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", T.words(F.col("text")).alias("ws"))
    toks = docs.select("doc_id", F.explode("ws").alias("w"))
    vocab = (toks.groupBy("w").agg(F.count("*").alias("n"))
             .orderBy(F.col("n").desc(), F.col("w"))
             .limit(_VOCAB_K)
             .select("w"))
    base = docs.select("doc_id", F.size("ws").cast("long")
                       .alias("n_tokens"))
    oov = (toks.join(F.broadcast(vocab), "w", "left_anti")
           .groupBy("doc_id").agg(F.count("*").alias("n_oov")))
    return (base.join(oov, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_oov", F.lit(0)).alias("n_oov"))
            .withColumn("oov_pm",
                        F.when(F.col("n_tokens") > 0,
                               F.expr("(n_oov * 1000) div n_tokens"))
                        .otherwise(F.lit(0).cast("long"))))


ORACLES["oov_rate_docs"] = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), toks AS (
  SELECT doc_id, unnest(ws) AS w FROM w
), vocab AS (
  SELECT w FROM (SELECT w, count(*) AS n FROM toks GROUP BY w)
  ORDER BY n DESC, w LIMIT {_VOCAB_K}
), oov AS (
  SELECT doc_id, count(*) AS n_oov FROM toks
  WHERE w NOT IN (SELECT w FROM vocab) GROUP BY doc_id
)
SELECT w.doc_id, len(ws) AS n_tokens,
       coalesce(o.n_oov, 0) AS n_oov,
       CASE WHEN len(ws) > 0
            THEN (coalesce(o.n_oov, 0) * 1000) // len(ws)
            ELSE 0 END AS oov_pm
FROM w LEFT JOIN oov o USING (doc_id)
"""


_OVERLAP_N = 5        # shingle width for the leakage matrix


@query("source_overlap_matrix")
def source_overlap_matrix(spark, sf_dir):
    """(source_a, source_b, n_shared_shingles): for every ordered source
    pair, how many distinct word 5-grams appear in BOTH — the
    cross-source leakage matrix that decides whether sources can serve
    as independent train/eval splits (shingle-level catches the fuzzy
    leakage exact digests miss).  One shuffle on the distinct
    (source, shingle) posting; the self-join meets on the shingle and
    output is bounded by sources², never the corpus.  At crawl scale a
    stop-shingle doc-frequency cap bounds the per-shingle fan-out — the
    same ``max_doc_freq`` lever the MinHash dedup path uses."""
    # r13 restructure (VERDICT r12 item 2): the posting self-join needed a
    # cache barrier (both sides re-ran the corpus-scale explode+distinct
    # otherwise), and the r12 eager fill serialized that corpus pass on
    # the critical path — the driver read 2.57 → 7.60 s.  Equivalent
    # single-consumer shape: group the distinct posting BY SHINGLE, fold
    # each shingle's (bounded-by-#sources) source set into ordered pairs
    # in-row, and count per pair.  For a shingle present in source set S,
    # every ordered pair (a < b) ⊆ S gains exactly 1 — the same
    # n_shared_shingles the self-join counted (oracle-gated).  One chain:
    # no self-join, no racing leaf stages, no barrier, one fewer
    # corpus-scale Exchange; the per-shingle fan-out that made hot
    # shingles a skew hazard at crawl scale is now a per-row transform
    # over a set bounded by the source count.
    # (no ``.distinct()`` before the groupBy: ``collect_set`` already
    # dedups sources per shingle — and the per-doc ``array_distinct``
    # already dedups within a document — so the posting's own
    # corpus-scale Exchange is redundant; ONE shuffle total on shingle)
    # spread_input: the regex tokenize + shingle explode + map-side
    # partial collect_set otherwise run as ONE scan task on single-file
    # bench input (no-op at scale); the frame is consumed ONCE, the
    # r12 rule's keep condition
    from ..operators.barrier import spread_input

    d = (spread_input(_t(spark, sf_dir, "documents")
                      .select("source", "text"))
         .select("source",
                 F.explode(F.array_distinct(T.word_shingles(
                     T.words(F.col("text")), _OVERLAP_N)))
                 .alias("shingle")))
    ss = (d.groupBy("shingle")
          .agg(F.sort_array(F.collect_set("source")).alias("ss"))
          .filter(F.size("ss") >= 2))
    pairs = ss.select(F.explode(F.flatten(F.transform(
        F.col("ss"),
        lambda a, i: F.transform(
            F.slice(F.col("ss"), i + 2,
                    F.greatest(F.size(F.col("ss")) - i - 1, F.lit(0))),
            lambda b: F.struct(a.alias("source_a"),
                               b.alias("source_b"))))))
        .alias("p"))
    return (pairs.groupBy(F.col("p.source_a").alias("source_a"),
                          F.col("p.source_b").alias("source_b"))
            .agg(F.count("*").alias("n_shared_shingles")))


ORACLES["source_overlap_matrix"] = f"""
WITH w AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), d AS (
  SELECT DISTINCT source,
         unnest(list_distinct(
           [array_to_string(list_slice(ws, i, i + {_OVERLAP_N - 1}), ' ')
            FOR i IN generate_series(1, len(ws) - {_OVERLAP_N - 1})]))
           AS shingle
  FROM w WHERE len(ws) >= {_OVERLAP_N}
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared_shingles
FROM d a JOIN d b USING (shingle)
WHERE a.source < b.source
GROUP BY 1, 2
"""


_LN2 = 0.6931471805599453   # ln 2 as an exact double LITERAL in both
                            # engines (never a runtime log(2) call —
                            # cross-engine libm identity is not worth
                            # betting a hash match on)


@query("source_unigram_kl")
def source_unigram_kl(spark, sf_dir):
    """(source, n_words, n_distinct, coverage_q, kl_to_corpus,
    js_to_corpus): per-source unigram-distribution divergence from the
    whole-corpus distribution — the domain-relevance statistic behind
    data-mixing and domain-reweighting decisions (which sources are
    interchangeable, which are outliers; the n-gram-distribution
    counterpart of DSIR's hashed importance weights):

        KL(P_s ‖ P_c) = Σ_w  p·ln(p/q)          (support of the source)
        JS(P_s, P_c)  = ½·Σ_w p·ln(p/m) + ½·Σ_w q·ln(q/m),  m = (p+q)/2

    with p = c_sw/tot_s, q = c_w/tot.  KL is finite by construction
    (q ≥ p·tot_s/tot > 0 on the source's support).  The JS right-hand
    sum nominally runs over the WHOLE corpus vocabulary per source —
    a |sources|×|vocab| blowup — but every word OUTSIDE the source's
    support has m = q/2, so its term is q·ln 2, and the tail collapses
    in closed form:

        Σ_{w∉S} q·ln(q/m) = (1 − Q_S)·ln 2,   Q_S = Σ_{w∈S} q

    so the whole computation stays on the (source, word) support frame
    — the algebra, not a bigger join, removes the blowup.  coverage_q
    IS Q_S (share of corpus token mass covered by the source's vocab).

    Scale shape: one corpus scan → (source, word) counts (one shuffle,
    |sources|×Heaps-bounded); word-level corpus counts derive from the
    SAME frame by a second type-table-bounded aggregation; per-source
    totals and the 1-row corpus total broadcast.  Per-source sums
    round to 4 decimals (family convention; the ~1e-11 cross-engine
    double-sum association drift is far inside the rounding step)."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    sw = truncate_lineage(
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(T.words(F.col("text"))).alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("c_sw")),
        eager=False)
    tot_s = sw.groupBy("source").agg(F.sum("c_sw").alias("tot_s"))
    glob_w = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    tot = glob_w.agg(F.sum("c_w").alias("tot"))

    p = F.col("c_sw").cast("double") / F.col("tot_s")
    q = F.col("c_w").cast("double") / F.col("tot")
    m = (p + q) / F.lit(2.0)
    terms = (sw.join(glob_w, "w")
             .join(F.broadcast(tot_s), "source")
             .crossJoin(F.broadcast(tot))
             .select("source", "c_sw",
                     (p * F.log(p / q)).alias("kl_term"),
                     (p * F.log(p / m)).alias("js_p_term"),
                     (q * F.log(q / m)).alias("js_q_term"),
                     q.alias("q")))
    return (terms.groupBy("source")
            .agg(F.sum("c_sw").alias("n_words"),
                 F.count("*").alias("n_distinct"),
                 F.round(F.sum("q"), 4).alias("coverage_q"),
                 F.round(F.sum("kl_term"), 4).alias("kl_to_corpus"),
                 F.round(F.lit(0.5) * F.sum("js_p_term")
                         + F.lit(0.5) * (F.sum("js_q_term")
                                         + (F.lit(1.0) - F.sum("q"))
                                         * F.lit(_LN2)), 4)
                 .alias("js_to_corpus")))


ORACLES["source_unigram_kl"] = f"""
WITH sw AS MATERIALIZED (
  SELECT source, w, count(*) AS c_sw
  FROM (SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
), tot_s AS (
  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS tot_s FROM sw GROUP BY source
), glob_w AS (
  SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w
), tot AS (
  SELECT CAST(SUM(c_w) AS BIGINT) AS tot FROM glob_w
), terms AS (
  SELECT sw.source, sw.c_sw,
         (CAST(sw.c_sw AS DOUBLE) / ts.tot_s) AS p,
         (CAST(g.c_w AS DOUBLE) / t.tot) AS q
  FROM sw JOIN glob_w g USING (w) JOIN tot_s ts USING (source)
  CROSS JOIN tot t
)
SELECT source,
       CAST(SUM(c_sw) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(SUM(q), 4) AS coverage_q,
       round(SUM(p * ln(p / q)), 4) AS kl_to_corpus,
       round(0.5 * SUM(p * ln(p / ((p + q) / 2.0)))
             + 0.5 * (SUM(q * ln(q / ((p + q) / 2.0)))
                      + (1.0 - SUM(q)) * {_LN2!r}), 4) AS js_to_corpus
FROM terms GROUP BY source
"""
