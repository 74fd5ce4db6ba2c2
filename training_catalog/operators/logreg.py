"""Distributed logistic regression over an embedding column — the
learned quality-classifier stage of a training-data pipeline (the
fastText/DSIR-style filter: fit a small linear model on labeled
examples, score the full corpus, drop the low tail).

Same execution shape as ``operators/kmeans.py`` — full-batch gradient
descent where **the corpus never shuffles**:

- each iteration is one ``mapInPandas`` pass emitting a per-partition
  partial gradient (ONE (n, Σ x̃·(σ(w·x̃) − y)) row per partition, the
  σ and the outer product vectorized as numpy GEMV) merged on the
  driver — traffic per iteration is partitions × (dim+1) doubles,
  independent of corpus size;
- scoring is one more ``mapInPandas`` pass (no shuffle at all).

Determinism / cross-engine reproducibility: weights start at exactly 0
(so iteration 1's σ is exactly 0.5 on every engine), the driver sorts
partial vectors lexicographically before summing (collect-order
independent), and weights are rounded to ``decimals`` after every
update; predicted probabilities are rounded before the 0.5 compare.
Like the kmeans fit this makes the DuckDB-oracle match probabilistic
(last-ulp exp/sum drift only flips a value landing within ~1e-13 of a
rounding boundary — measure-zero on continuous data), asserted by the
parity test, not guaranteed by construction.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _design(pdf: pd.DataFrame, vec_col: str) -> np.ndarray:
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return np.hstack([V, np.ones((len(V), 1))])       # bias column last


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


def logreg_fit(df: DataFrame, label: Column, n_iter: int = 2,
               lr: float = 2.0, vec_col: str = "embedding",
               decimals: int = 6) -> np.ndarray:
    """Fit w (dim+1, bias last) by ``n_iter`` full-batch GD steps:
    w ← round(w − lr · Σ x̃(σ(w·x̃) − y) / N, decimals)."""
    fit_input = df.select(F.col(vec_col).alias("__v"),
                          label.cast("double").alias("__y"))
    w: np.ndarray | None = None    # None = the exact all-zero init

    for _ in range(n_iter):
        w_now = w

        def partials(parts: Iterable[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
            for pdf in parts:
                if len(pdf) == 0:
                    continue
                X = _design(pdf, "__v")
                y = pdf["__y"].to_numpy()
                s = (np.full(len(X), 0.5) if w_now is None
                     else _sigmoid(X @ w_now))
                g = X.T @ (s - y)
                yield pd.DataFrame({"n": [len(X)], "g": [g.tolist()]})

        rows = fit_input.mapInPandas(
            partials, "n long, g array<double>").collect()
        if not rows:
            raise ValueError("logreg_fit: input DataFrame is empty")
        n_total = sum(r.n for r in rows)
        grads = sorted((np.asarray(r.g, dtype=np.float64) for r in rows),
                       key=lambda a: a.tobytes())    # collect-order free
        G = np.zeros(len(grads[0]))
        for g in grads:                               # ≤ partitions rows
            G += g
        base = np.zeros_like(G) if w is None else w
        w = np.round(base - lr * G / n_total, decimals)
    if w is None:
        raise ValueError("logreg_fit: n_iter must be >= 1")
    return w


def logreg_score(df: DataFrame, w: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 decimals: int = 6) -> DataFrame:
    """(id, p, pred): rounded σ(w·x̃) and the 0.5-threshold verdict.
    One mapInPandas pass, no shuffle."""
    def score(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            if len(pdf) == 0:
                continue
            X = _design(pdf, vec_col)
            p = np.round(_sigmoid(X @ w), decimals)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].astype("int64"),
                "p": p,
                "pred": p >= 0.5})

    out = (df.select(id_col, vec_col)   # prune before the Arrow transfer
           .mapInPandas(score, "vec_id long, p double, pred boolean"))
    if id_col != "vec_id":
        out = out.withColumnRenamed("vec_id", id_col)
    return out
