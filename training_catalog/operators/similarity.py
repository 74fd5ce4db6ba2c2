"""Similarity search over embedding columns (``array<float>``).

- ``knn_brute_force``: exact top-k by cosine.  The query side is broadcast
  (queries are almost always ≪ corpus), the corpus streams through a single
  codegen'd stage computing JVM-side dot products, and per-query top-k is a
  rank window.  At 100 TB this is the scan-everything baseline: one pass,
  no shuffle of the corpus itself, only of the (n_queries × corpus) scored
  pairs — which a pre-filter on an LSH/IVF bucket cuts down.
- ``lsh_ann_topk``: random-hyperplane LSH bucketing (training-free scale
  path).  Plane tables are deterministic (seeded), built once, broadcast
  as literals.  Multi-probe = querying all buckets at Hamming distance ≤ 1
  from the query's code to recover recall lost at bucket boundaries.
- ``ivf_ann_topk``: inverted-file index (trained scale path) — sample-
  trained spherical-k-means cells, one cell per corpus vector, n_probe
  cells per query.  Wins over LSH on clustered (i.e. real) embeddings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine, cosine_batch_udf, dot, norm


def knn_brute_force(queries: DataFrame, corpus: DataFrame, k: int,
                    query_id: str = "query_id", corpus_id: str = "corpus_id",
                    query_vec: str = "qvec", corpus_vec: str = "cvec") -> DataFrame:
    """Exact cosine top-k: (query_id, rank, corpus_id, cosine_sim).

    Norms are computed once per ROW on each side before the join instead
    of once per PAIR: the higher-order dot/norm folds are interpreted
    (CodegenFallback), so the per-pair work drops from three folds to one
    with bit-identical results (same float ops in the same order —
    dot / (sqrt(dot_aa) · sqrt(dot_bb)))."""
    from .barrier import spread_input

    q = queries.withColumn("__qn", norm(as_double(F.col(query_vec))))
    # spread_input: the corpus is the cross join's STREAM side; a
    # single-file scan otherwise scores every pair in one task (no-op at
    # real scale)
    c = spread_input(corpus).withColumn(
        "__cn", norm(as_double(F.col(corpus_vec))))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            F.col(query_id), F.col(corpus_id),
            (dot(as_double(F.col(query_vec)), as_double(F.col(corpus_vec)))
             / (F.col("__qn") * F.col("__cn"))).alias("cosine_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "rank", corpus_id, "cosine_sim"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _lsh_codes_udf(tables: list[list[list[float]]]):
    """All per-table bucket codes of a vector in ONE Arrow-batched GEMM.

    The pure-Catalyst per-plane fold (``lsh_code``) builds
    n_tables × n_planes separate ``aggregate(zip_with(...))`` expression
    trees — interpreted, not codegen'd, and the dominant cost of the ANN
    plan.  Stacking every table's planes into a single (dim × L·b) matrix
    turns code assignment into one numpy matmul + sign + bit-pack per
    Arrow batch.
    """
    from pyspark.sql.types import ArrayType, LongType

    n_tables, n_planes = len(tables), len(tables[0])
    all_planes = np.concatenate([np.asarray(t) for t in tables])  # (L·b, dim)
    powers = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ all_planes.T > 0).reshape(len(mat), n_tables, n_planes)
        codes = (bits * powers).sum(axis=2)          # (n, L)
        return pd.Series(list(codes))
    return _codes


def lsh_code(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit code of ``vec`` against fixed hyperplanes, packed to a long."""
    code = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(F.zip_with(as_double(vec), p, lambda a, b: a * b),
                        F.lit(0.0), lambda acc, x: acc + x)
        code = code.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), j))
             .otherwise(F.lit(0).cast("long")))
    return code


def lsh_ann_topk(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                 n_planes: int = 8, n_tables: int = 6, probe_hamming: int = 2,
                 query_id: str = "query_id", corpus_id: str = "corpus_id",
                 query_vec: str = "qvec", corpus_vec: str = "cvec") -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH with multiprobe.

    The classic E2LSH shape: ``n_tables`` independent hyperplane sets, each
    hashing to a ``n_planes``-bit bucket; a query probes every bucket within
    Hamming distance ``probe_hamming`` of its code in every table; the union
    of bucket members is scored exactly and ranked.  Recall compounds as
    1-(1-p)^L across tables, so low per-table recall (inevitable for
    near-uniform embeddings, where top-k neighbors sit barely above the
    noise floor) still converges: the defaults measure recall@5 ≈ 0.94 on
    the synthetic (unclustered, worst-case) embeddings table vs. 0.0 for a
    single 12-bit table.  Corpus-side cost is ``n_tables`` bucket rows per
    vector — the standard memory/recall trade; query-side probes stay a
    broadcast (query sets are small by contract).
    """
    tables = [_hyperplanes(dim, n_planes, seed=42 + t)
              for t in range(n_tables)]
    codes = _lsh_codes_udf(tables)
    from .barrier import spread_input

    # Row norms computed once per vector BEFORE the table/probe explosion
    # (the interpreted norm folds otherwise re-run per candidate pair);
    # bit-identical scores — see knn_brute_force.  spread_input: the
    # corpus-side codes UDF + explosion otherwise run as ONE scan task on
    # single-file bench input (no-op at real scale).
    c = spread_input(corpus).withColumn(
        "__cn", norm(as_double(F.col(corpus_vec)))).select(
        "*",
        F.posexplode(codes(F.col(corpus_vec))).alias("__table", "__bucket"))
    q = queries.withColumn("__qn", norm(as_double(F.col(query_vec)))).select(
        "*",
        F.posexplode(codes(F.col(query_vec))).alias("__table", "__code"))
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    q = q.withColumn("__bucket", F.explode(F.array(
        *[F.col("__code").bitwiseXOR(F.lit(m)) for m in masks])))
    scored = (
        F.broadcast(q.drop("__code"))
        .join(c, ["__table", "__bucket"])
        .select(F.col(query_id), F.col(corpus_id),
                (dot(as_double(F.col(query_vec)),
                     as_double(F.col(corpus_vec)))
                 / (F.col("__qn") * F.col("__cn"))).alias("cosine_sim"))
        .dropDuplicates([query_id, corpus_id])
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "rank", corpus_id, "cosine_sim"))


def _train_ivf_centroids(corpus: DataFrame, vec_col: str, n_centroids: int,
                         sample_size: int, n_iters: int) -> np.ndarray:
    """Spherical k-means on a bounded, deterministic corpus sample.

    IVF training is sample-based by design (the standard practice of
    published IVF implementations): the driver trains on ≤ ``sample_size``
    vectors — a TakeOrdered by content hash, so the sample is stable across
    runs and cluster layouts — and only the *assignment* runs distributed.
    Initialization is the first ``n_centroids`` sample rows in hash order;
    an emptied cluster keeps its previous centroid.  Returns L2-normalized
    (n_centroids, dim)."""
    rows = (corpus.select(F.col(vec_col).alias("v"))
            .orderBy(F.hash("v")).limit(sample_size).collect())
    x = np.array([np.asarray(r.v, dtype=np.float64) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_centroids].copy()
    for _ in range(n_iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _ivf_cells_udf(cents, n_probe: int):
    """Top-``n_probe`` nearest-centroid cells per vector in one GEMM.

    ``cents`` is either a plain ndarray (captured in the UDF closure —
    fine for toy models) or a ``Broadcast`` of one: a production IVF
    model (2^16 cells x d floats) must ship once per EXECUTOR via the
    broadcast machinery, not once per task in the serialized closure —
    ``streaming/embeddings.py`` passes a broadcast."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        c = cents.value if hasattr(cents, "value") else cents
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        sims = mat @ c.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])
    return _cells


def ivf_ann_topk(queries: DataFrame, corpus: DataFrame, k: int,
                 n_centroids: int = 16, n_probe: int = 4,
                 sample_size: int = 2048, n_iters: int = 8,
                 query_id: str = "query_id", corpus_id: str = "corpus_id",
                 query_vec: str = "qvec", corpus_vec: str = "cvec") -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the alternative
    scale path to ``lsh_ann_topk``, strictly better when the embedding
    space is CLUSTERED (real text/image embeddings are; LSH needs no
    training and wins on adversarially uniform vectors).

    Shape: spherical-k-means centroids (sample-trained, see
    ``_train_ivf_centroids``) partition the corpus into ``n_centroids``
    cells — each corpus vector lands in exactly ONE cell (one GEMM, no
    per-vector replication, unlike multi-table LSH's L rows per vector);
    each query probes its ``n_probe`` nearest cells; cell members are
    scored exactly and ranked.  The candidate join shuffles on the cell
    id, so at scale the cost is (corpus/n_centroids)·n_probe per query,
    not corpus."""
    cells1 = _ivf_cells_udf(
        _train_ivf_centroids(corpus, corpus_vec, n_centroids,
                             sample_size, n_iters), max(n_probe, 1))
    # Per-row norms before the candidate join — see knn_brute_force.
    # NO spread_input on the assignment leg (tried in the r12 campaign,
    # reverted): isolated A/B read 1.23 -> 1.86 s median — the 32-way
    # fan-out multiplies the per-task centroid-UDF setup and the
    # Exchange outweighs the parallel cell assignment at bench scale
    # (see OPTIMIZATION_r12.md "spread_input re-measure")
    # The corpus assignment UDF is marked non-deterministic (guide §4.4):
    # the equi-join's implied isnotnull(__cell) gets pushed below the
    # projection otherwise, and the optimizer DUPLICATES the UDF — the
    # r12 plan dump shows two ArrowEvalPython nodes evaluating
    # _cells(embedding) over the whole corpus (one feeding the pushed
    # null filter, one the projection).  The function is genuinely
    # deterministic, so blocking the duplication cannot change results.
    # The query leg keeps the deterministic instance: it feeds a
    # Generate (explode), where non-deterministic expressions are
    # disallowed, and the 10-row query table has no duplication cost.
    c = (corpus
         .withColumn("__cn", norm(as_double(F.col(corpus_vec))))
         .withColumn("__cell",
                     cells1.asNondeterministic()(F.col(corpus_vec))[0]))
    q = (queries.withColumn("__qn", norm(as_double(F.col(query_vec))))
         .withColumn("__cell", F.explode(cells1(F.col(query_vec)))))
    scored = (
        F.broadcast(q)
        .join(c, "__cell")
        .select(F.col(query_id), F.col(corpus_id),
                (dot(as_double(F.col(query_vec)),
                     as_double(F.col(corpus_vec)))
                 / (F.col("__qn") * F.col("__cn"))).alias("cosine_sim"))
        .dropDuplicates([query_id, corpus_id])
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "rank", corpus_id, "cosine_sim"))


def embedding_near_dup_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                                 dim: int, threshold: float,
                                 n_planes: int = 8, n_tables: int = 4,
                                 probe_hamming: int = 1) -> DataFrame:
    """Embedding near-duplicate pairs WITHOUT the all-pairs crossJoin: the
    LSH-bucketed self-join scale path (candidate pairs from the same
    multi-table bucketing as ``lsh_ann_topk``, exact cosine verify on
    candidates only — precision 1.0, recall bounded by 1-(1-p)^L).

    One side probes Hamming ≤ ``probe_hamming`` around its code, the other
    joins exact, so a pair is a candidate when its per-table codes differ
    by ≤ probe_hamming bits in any table.  The candidate join shuffles on
    (table, bucket) content-derived keys — no forced broadcasts — and
    verification is per-candidate, so at corpus scale the plan's cost is
    bucket-occupancy², not n².  Returns (id_a, id_b, cosine_sim) with
    id_a < id_b, cosine_sim rounded to 6 and > threshold (the same contract
    as the exact crossJoin twin it replaces at scale).

    Defaults target the *dedup regime* (true near-dups cluster at cosine
    ≥ ~0.85, where per-bit agreement is ≥ 0.85 and 4 tables with Hamming-1
    probing compound to recall ≥ 0.99) — NOT the weak-similarity regime of
    ``lsh_ann_topk``'s defaults.  On uncorrelated vectors at a low
    threshold no LSH prunes meaningfully (candidates → all pairs); that is
    a property of the data, not the plan.
    """
    from .barrier import materialize_now

    tables = [_hyperplanes(dim, n_planes, seed=42 + t)
              for t in range(n_tables)]
    codes = _lsh_codes_udf(tables)
    # ONE materialized corpus pass computes (id, vec, codes): previously
    # the codes UDF (the plan's only Python stage) ran once per self-join
    # side and the verify legs re-scanned the source twice more — 2 UDF
    # passes + 4 scans collapse to 1 UDF pass + 1 scan.  Eager fill: the
    # self-join sides are independent AQE leaf stages that would race a
    # lazy cache and each re-run the codes UDF (barrier.materialize_now).
    # spread_input: the one codes-UDF pass otherwise runs as ONE scan
    # task on single-file bench input (no-op at real scale)
    from .barrier import spread_input

    base = materialize_now(
        spread_input(df.select(F.col(id_col).alias("__id"),
                               F.col(vec_col).alias("__vec")))
          .withColumn("__codes", codes(F.col("__vec"))))
    coded = base.select(
        "__id", F.posexplode(F.col("__codes")).alias("__table", "__code"))
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    a = coded.select(
        F.col("__id").alias("id_a"), F.col("__table"),
        F.explode(F.array(*[F.col("__code").bitwiseXOR(F.lit(m))
                            for m in masks])).alias("__bucket"))
    b = coded.select(F.col("__id").alias("id_b"),
                     F.col("__table"), F.col("__code").alias("__bucket"))
    # candidates shrink to bare id pairs BEFORE the distinct (no vector
    # payload through the shuffle); vectors re-join for the verify stage,
    # scored by the Arrow-batched cosine (the interpreted Catalyst fold is
    # the oracle twin, not the verify path).
    cand = (a.join(b, ["__table", "__bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = base.select(F.col("__id").alias("id_a"), F.col("__vec").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__vec").alias("__vb"))
    # Non-deterministic marking (guide §4.4): the threshold filter
    # references the UDF-computed column, and the optimizer otherwise
    # pushes the filter below the projection and DUPLICATES the UDF —
    # the r12 plan dump shows two ArrowEvalPython _cos nodes, so every
    # candidate pair paid the Arrow round trip twice.  The cosine is
    # deterministic; blocking duplication cannot change results.
    cos = cosine_batch_udf().asNondeterministic()
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine_sim",
                    F.round(cos(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cosine_sim") > threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def _train_pq_codebooks(corpus: DataFrame, vec_col: str, m: int, k: int,
                        sample_size: int, n_iters: int) -> np.ndarray:
    """Per-subspace k-means codebooks on a bounded, deterministic sample.

    Same bounded-driver-training pattern as ``_train_ivf_centroids`` (the
    standard practice of published PQ implementations: train on a sample,
    encode distributed).  Vectors are L2-normalized first so code dot
    products approximate cosine.  Returns (m, k, dim/m) float64.
    """
    rows = (corpus.select(F.col(vec_col).alias("v"))
            .orderBy(F.hash("v")).limit(sample_size).collect())
    x = np.array([np.asarray(r.v, dtype=np.float64) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, k, sub))
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[:k].copy()
        for _ in range(n_iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def _pq_codes_udf(books: np.ndarray):
    """Encode vectors to m uint8-range codes — one GEMM per subspace."""
    from pyspark.sql.types import ArrayType, IntegerType

    m, k, sub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        out = np.empty((mat.shape[0], m), dtype=np.int64)
        for j in range(m):
            xs = mat[:, j * sub:(j + 1) * sub]
            # argmin ||x - c||² = argmax (x·c - ||c||²/2); one GEMM
            scores = xs @ books[j].T - 0.5 * (books[j] ** 2).sum(axis=1)
            out[:, j] = scores.argmax(axis=1)
        return pd.Series([row.tolist() for row in out])
    return _codes


def pq_ann_topk(queries: DataFrame, corpus: DataFrame, k: int,
                m: int = 8, n_codes: int = 32,
                sample_size: int = 2048, n_iters: int = 8, rerank: int = 32,
                query_id: str = "query_id", corpus_id: str = "corpus_id",
                query_vec: str = "qvec", corpus_vec: str = "cvec") -> DataFrame:
    """Approximate top-k via product quantization with exact re-ranking —
    the *compressed-domain* scale path beside LSH (training-free) and IVF
    (cell-pruned).

    What PQ buys at 100 TB: the scan cost.  Each corpus vector is encoded
    once into ``m`` small codes (m bytes instead of 4·dim — 32× smaller at
    dim 64/m 8), and candidate scoring reads ONLY the code table: for each
    query a (m × n_codes) ADC lookup table of subspace dot products is
    built, and a corpus vector's approximate cosine is m table lookups.
    The full-precision vectors are touched only for the ``rerank`` best
    candidates per query (exact cosine, the standard ADC + rerank recipe).

    Shape: one broadcast of the per-query tables into an Arrow-batched
    scorer over the code table (no shuffle of the corpus), top-``rerank``
    window per query, then an exact-cosine re-rank join on that small
    candidate set.
    """
    books = _train_pq_codebooks(corpus, corpus_vec, m, n_codes,
                                sample_size, n_iters)
    codes = _pq_codes_udf(books)
    # NO spread_input on the encode leg (tried in the r12 campaign,
    # reverted): isolated A/B read 1.40 -> 2.44 s median — the 32-way
    # fan-out multiplies the per-task codebook materialization of the
    # code UDF and the Exchange outweighs the parallel encode at bench
    # scale (see OPTIMIZATION_r12.md "spread_input re-measure")
    coded = corpus.withColumn("__codes", codes(F.col(corpus_vec)))

    # The query side is driver-collected to build the ADC tables — queries
    # are ≪ corpus by contract (same rationale as the broadcast in
    # knn_brute_force); the guard keeps an accidental corpus-sized query
    # frame from ever collecting.
    qrows = queries.select(F.col(query_id).alias("qid"),
                           F.col(query_vec).alias("qv")).limit(4097).collect()
    if len(qrows) > 4096:
        raise ValueError("pq_ann_topk: query side exceeds 4096 rows; "
                         "split the query set or use lsh/ivf_ann_topk")
    qids = [r.qid for r in qrows]
    qmat = np.array([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    sub = books.shape[2]
    # tables[q, j, c] = dot(query_q subspace j, codeword c)
    tables = np.stack([qmat[:, j * sub:(j + 1) * sub] @ books[j].T
                       for j in range(books.shape[0])], axis=1)

    from pyspark.sql.types import ArrayType, DoubleType

    @F.pandas_udf(ArrayType(DoubleType()))
    def _adc_scores(code_col: pd.Series) -> pd.Series:
        if not len(code_col):
            return pd.Series([], dtype=object)
        cmat = np.array([np.asarray(c, dtype=np.int64) for c in code_col])
        # sims[q, row] = Σ_j tables[q, j, code[row, j]]
        sims = tables[:, np.arange(cmat.shape[1])[None, :],
                      cmat[:, :]].sum(axis=2)
        return pd.Series([sims[:, r].tolist()
                          for r in range(cmat.shape[0])])

    qid_map = F.array(*[F.lit(q) for q in qids])
    # scores only — the full-precision vectors do NOT ride the shuffle;
    # they re-join below for the small re-rank candidate set.
    scored = (coded
              .select(F.col(corpus_id),
                      F.posexplode(_adc_scores(F.col("__codes")))
                      .alias("__qi", "__approx"))
              .select(F.col(corpus_id),
                      qid_map[F.col("__qi")].alias(query_id),
                      F.col("__approx")))
    w = Window.partitionBy(query_id).orderBy(F.col("__approx").desc(),
                                             F.col(corpus_id).asc())
    cand = (scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= max(rerank, k))
            .select(query_id, corpus_id))

    # NOTE: deliberately NOT the per-row norm hoist used in
    # knn_brute_force/lsh/ivf.  There every row reaches ≥1 scored pair, so
    # hoisting the self-norm below the join strictly saves folds.  Here the
    # norm projection would sit below the candidate join's PROBE side and
    # run for every corpus row, while the re-rank only scores
    # nq×rerank pairs ≪ corpus by construction — measured 5.5 → 14.3 s at
    # bench scale when hoisted.  Per-pair cosine over the tiny candidate
    # set is the right side of that tradeoff at any corpus size.
    cvecs = corpus.select(F.col(corpus_id), F.col(corpus_vec))
    qdf = queries.select(F.col(query_id), F.col(query_vec))
    rer = (cand.join(cvecs, corpus_id).join(F.broadcast(qdf), query_id)
           .select(F.col(query_id), F.col(corpus_id),
                   cosine(as_double(F.col(query_vec)),
                          as_double(F.col(corpus_vec))).alias("cosine_sim")))
    w2 = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(),
                                              F.col(corpus_id).asc())
    return (rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, "rank", corpus_id, "cosine_sim"))
