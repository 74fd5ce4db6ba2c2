"""SemDeDup — semantic deduplication via k-means cluster pruning
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The embedding-space analogue of MinHash dedup: cluster the corpus with
k-means, then search for near-duplicate pairs ONLY within each cluster —
the clustering bounds the quadratic.  This composes two operators the
engine already has (``operators/kmeans.py``'s deterministic Lloyd fit and
the GEMM cosine kernel from ``operators/similarity.py``) into the
paper's pipeline shape.

Keep rule (deterministic, anti-join-shaped): a vector is DROPPED iff some
other vector in its cluster has rounded cosine ≥ ``tau`` with it AND is
strictly preferred — closer to the centroid (smaller rounded d2), ties
broken to the smaller id.  Equivalently each near-duplicate neighborhood
keeps its local preference-minima.  This is the paper's
"keep one representative per ε-ball" with a total preference order
instead of an arbitrary/random choice (the paper itself notes the choice
of representative barely matters — §4.4 keeps random ones); unlike a
connected-components pass it needs no iteration and is expressible as a
single EXISTS anti-join, so the DuckDB oracle reproduces it exactly.

Scale design (100 TB):
- the kmeans fit never shuffles the corpus (bounded partial-sums merge,
  see ``operators/kmeans.py``);
- the pairwise stage shuffles the corpus ONCE on ``cluster`` and is
  quadratic only within a cluster: k is chosen so clusters stay small
  (the paper uses k = 50 000 on 600 M docs → ~12k per cluster; one
  32 MB GEMM per task at that size).  A skewed mega-cluster bounds one
  task — mitigate by raising k (clusters shrink linearly), the same
  lever the paper uses; the GEMM itself stays vectorized either way.
- cosine is rounded to ``decimals`` before the ≥ tau compare on BOTH
  engines, so the threshold decision is reproducible cross-engine in the
  same probabilistic sense as the kmeans fit (module docstring there).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import kmeans_fit


def semdedup(df: DataFrame, k: int = 8, n_iter: int = 2,
             tau: float = 0.92, id_col: str = "vec_id",
             vec_col: str = "embedding",
             decimals: int = 6) -> DataFrame:
    """(id, cluster, keep): SemDeDup verdict for every vector.

    ``keep = false`` marks a vector dominated by a preferred near-twin
    (rounded cosine ≥ tau) in its k-means cluster.
    """
    _, assign = kmeans_fit(df, k=k, n_iter=n_iter, id_col=id_col,
                           vec_col=vec_col, decimals=decimals)
    joined = (df.select(id_col, vec_col)
              .join(assign, id_col)
              # quantized preference key: GEMM vs sequential-SQL d2 agree
              # after rounding (measure-zero boundary events excepted)
              .withColumn("__d2r", F.round("d2", decimals))
              .drop("d2"))

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec_col]])
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0.0] = 1.0          # zero vectors: cosine 0
        Vn = V / norms[:, None]
        S = np.round(Vn @ Vn.T, decimals)
        near = S >= tau
        np.fill_diagonal(near, False)
        ids = pdf[id_col].to_numpy()
        d2r = pdf["__d2r"].to_numpy()
        # preference rank: (d2r, id) lexicographic, smallest = best
        order = np.lexsort((ids, d2r))
        rank = np.empty(len(ids), dtype=np.int64)
        rank[order] = np.arange(len(ids))
        dropped = (near & (rank[None, :] < rank[:, None])).any(axis=1)
        return pd.DataFrame({
            id_col: ids,
            "cluster": pdf["cluster"].to_numpy(),
            "keep": ~dropped})

    out_schema = f"{id_col} long, cluster int, keep boolean"
    return (joined.groupBy("cluster")
            .applyInPandas(lambda _, pdf: prune(pdf), out_schema))
