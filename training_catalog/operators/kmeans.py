"""Distributed Lloyd's k-means over an embedding column.

The training-data pipeline uses k-means everywhere the IVF index does
(coarse quantizers, corpus bucketing for balanced sharding, centroid
features) — but unlike ``similarity.ivf_ann_topk``'s sample-trained
cells, this operator runs Lloyd iterations over the FULL corpus,
distributed:

- **The corpus never shuffles.**  Each iteration is one ``mapInPandas``
  pass emitting per-partition partial sums (cluster, count, Σvec) — at
  most ``partitions × k`` tiny rows — merged on the driver exactly like
  the Space-Saving heavy-hitter merge (bounded by construction, never by
  data size).  Per-iteration traffic at 1000 executors: 1000·k·dim
  doubles, regardless of corpus size.
- **Assignment is one numpy GEMM per Arrow batch** (‖v−c‖² expanded to
  v·v + c·c − 2·v·c), not a per-row loop.
- **Deterministic across runs, reproducible cross-engine with high
  probability**: init is the k smallest ids' vectors; driver-side
  accumulation sorts each cluster's partial vectors lexicographically
  before summing (order-independent regardless of collect order), and
  every centroid (including init) is rounded to ``decimals`` after each
  update so partial-agg float drift is quantized away.  Ties break to the
  smallest cluster index on both sides.  Empty clusters keep their
  previous (rounded) centroid.  The cross-engine (DuckDB oracle) claim is
  PROBABILISTIC, not absolute: a mean landing within ~5e-7 of a rounding
  boundary, or two centroids near-equidistant from a vector (BLAS GEMM vs
  sequential-SQL distance), can still flip — measure-zero events on
  continuous data, asserted empirically by the parity test, not
  guaranteed by construction.

Reference anchor: the engine-side twin of the reference's external
clustering dependencies (SURVEY §2.9 uses CC for ski areas; k-means is
the vector-space analogue the LLM-pipeline extensions need).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _partials_fn(centroids: np.ndarray, id_col: str, vec_col: str):
    C = centroids
    c_sq = (C * C).sum(axis=1)

    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            d2 = (V * V).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (V @ C.T)
            a = d2.argmin(axis=1)          # ties -> smallest cluster index
            rows = []
            for c in np.unique(a):
                mask = a == c
                rows.append((int(c), int(mask.sum()),
                             V[mask].sum(axis=0).tolist()))
            yield pd.DataFrame(rows, columns=["cluster", "n", "s"])
    return run


def kmeans_fit(df: DataFrame, k: int, n_iter: int,
               id_col: str = "vec_id", vec_col: str = "embedding",
               decimals: int = 6) -> tuple[np.ndarray, DataFrame]:
    """Fit k-means; returns (centroids (k, dim), assignments DataFrame).

    Assignments carry ``(id_col, cluster, d2)`` against the FINAL
    centroids.  ``decimals`` quantizes centroids after init and after
    every Lloyd update (see module docstring).
    """
    seed_rows = (df.select(id_col, vec_col).orderBy(id_col).limit(k)
                 .collect())                      # bounded k-row collect
    if not seed_rows:
        raise ValueError("kmeans_fit: input DataFrame is empty")
    k = min(k, len(seed_rows))                    # fewer rows than k: clamp
    C = np.round(np.stack([np.asarray(r[1], dtype=np.float64)
                           for r in seed_rows]), decimals)

    for _ in range(n_iter):
        partials = df.mapInPandas(
            _partials_fn(C, id_col, vec_col),
            f"cluster int, n long, s array<double>").collect()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros_like(C)
        # Sort each cluster's partial vectors before summing so the
        # accumulated double is independent of collect order (collect
        # returns partitions in completion-dependent order on a cluster).
        by_cluster: dict[int, list] = {}
        for r in partials:                        # ≤ partitions × k rows
            counts[r.cluster] += r.n
            by_cluster.setdefault(r.cluster, []).append(
                np.asarray(r.s, dtype=np.float64))
        for c, vecs in by_cluster.items():
            for v in sorted(vecs, key=lambda a: a.tobytes()):
                sums[c] += v
        nonempty = counts > 0
        C = C.copy()
        C[nonempty] = np.round(
            sums[nonempty] / counts[nonempty, None], decimals)

    C_final = C
    c_sq = (C_final * C_final).sum(axis=1)

    def assign(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            d2 = (V * V).sum(axis=1)[:, None] + c_sq[None, :] \
                - 2.0 * (V @ C_final.T)
            a = d2.argmin(axis=1)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].astype("int64"),
                "cluster": a.astype("int32"),
                "d2": d2[np.arange(len(a)), a]})

    assignments = df.mapInPandas(
        assign, "vec_id long, cluster int, d2 double")
    if id_col != "vec_id":
        assignments = assignments.withColumnRenamed("vec_id", id_col)
    return C_final, assignments.select(
        F.col(id_col), F.col("cluster"), F.col("d2"))
