"""Vector math over ``array<float>`` embedding columns.

Everything here is a Catalyst higher-order-function expression — the dot
products and norms run JVM-side inside whole-stage codegen, so brute-force
similarity scans parallelize across executors with zero Python overhead.
Inputs are cast to ``array<double>`` first so results are bit-comparable with
a double-precision oracle (sequential left-to-right accumulation in both).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cosine = dot(a,b) / (|a| * |b|); computed exactly as the oracle does
    (dot / (sqrt(dot_aa) * sqrt(dot_bb))) for cross-engine reproducibility."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_batch_udf():
    """Arrow-batched cosine for verify stages over many candidate pairs.

    The Catalyst ``cosine`` above is exact and codegen-friendly for oracle
    twins, but as an *interpreted higher-order fold* it dominates wall-clock
    when a plan scores 10^5+ candidate pairs; this numpy einsum path is the
    drop-in for those verify stages (float64 math, same result to ~1 ulp).
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=float)
        a = np.array([np.asarray(v, dtype=np.float64) for v in va])
        b = np.array([np.asarray(v, dtype=np.float64) for v in vb])
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, 0.0)
        return pd.Series(out)
    return _cos
