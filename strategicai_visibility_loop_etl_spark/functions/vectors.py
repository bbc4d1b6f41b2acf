"""Vector math over array<float|double> columns.

Two tiers, bit-identical results:

- **Expression form** (``dot``) via ``F.zip_with`` + ``F.aggregate``.
  Higher-order functions run interpreted (no whole-stage codegen) —
  measured ~20× slower than codegen'd shapes — so this is the
  *reference* form, usable anywhere a Column is and handy for tiny
  frames.
- **Arrow forms** (``dot_arrow`` / ``l2_norm_arrow`` /
  ``cosine_arrow``): pandas UDFs that accumulate in float64 with the
  SAME left-fold order as the expression form — ``acc += a[:,j] *
  b[:,j]`` over dims, vectorized across the batch — so every
  intermediate IEEE operation matches bit-for-bit (and matches
  DuckDB's ``list_dot_product``, which the oracle gate relies on).
  These are the hot-path forms: one Arrow transfer per batch, dim
  vectorized ops instead of an interpreted lambda per element.

Vectors are assumed rectangular (fixed dim) and non-null in the Arrow
forms — true for embedding tables; the expression form null-propagates.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _mat(vecs: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix — the cast mirrors the expression forms'
    per-element ``cast("double")`` before any arithmetic."""
    return np.asarray(list(vecs), dtype=np.float64)


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    # Left fold over dims: ((0 + a0*b0) + a1*b1) + … — NOT numpy's
    # pairwise sum. Same float64 op sequence per row as F.aggregate,
    # so results are bit-identical, just batched across rows.
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


# pandas_udf construction needs an active SparkSession (it resolves the
# return type against the session), so the UDFs are built lazily on
# first use and cached.


@lru_cache(maxsize=1)
def _dot_udf():
    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_seq_dot(_mat(a), _mat(b)))

    return _dot


@lru_cache(maxsize=1)
def _l2_norm_udf():
    @pandas_udf("double")
    def _l2(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        m = _mat(a)
        return pd.Series(np.sqrt(_seq_dot(m, m)))

    return _l2


@lru_cache(maxsize=1)
def _cosine_udf():
    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma, mb = _mat(a), _mat(b)
        denom = np.sqrt(_seq_dot(ma, ma)) * np.sqrt(_seq_dot(mb, mb))
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, _seq_dot(ma, mb) / denom, 0.0)
        return pd.Series(out)

    return _cos


def dot_arrow(a: Column, b: Column) -> Column:
    return _dot_udf()(a, b)


def l2_norm_arrow(a: Column) -> Column:
    return _l2_norm_udf()(a)


def cosine_arrow(a: Column, b: Column) -> Column:
    return _cosine_udf()(a, b)
