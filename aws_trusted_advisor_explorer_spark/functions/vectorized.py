"""Arrow-vectorized twins of the dual-dialect fold kernels
(functions/dual.py).

The SQL kernels (cosine, norm, sign-LSH bucket) are higher-order-
function folds — correct in both engines, but interpreted per row in
Spark (no whole-stage codegen for ``aggregate``/``zip_with`` lambdas),
which makes them the slow path once pair counts grow. These Pandas
UDFs compute the SAME doubles by replaying the fold's IEEE operation
order vectorized ACROSS rows instead of across dimensions:

- accumulate dimension-by-dimension (``acc += a_i * b_i``) — exactly
  the left fold ``((0 + p0) + p1) + ...`` per row;
- widen float32→float64 before arithmetic (exact), like the SQL
  ``cast(x as double)``;
- keep the downstream op order (``dot / (sqrt(na) * sqrt(nb))``,
  plane-dot sign test) identical to the SQL expression tree.

Bit-equality against the SQL forms is pinned by tests
(tests/test_extensions.py), which is what keeps these kernels
DuckDB-oracle-hash-compatible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType

from aws_trusted_advisor_explorer_spark.functions.dual import (
    hyperplane_weight_value,
)


def _mat(s: pd.Series) -> np.ndarray:
    """Series of array<float> -> (rows, dim) float64 matrix (exact widening)."""
    return np.stack(s.to_numpy()).astype(np.float64)


@pandas_udf(DoubleType())
def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """cosine(a, b) with the fold's exact IEEE order; norms recomputed
    from the arrays (bit-identical to a precomputed ``sqrt(fold)``)."""
    va, vb = _mat(a), _mat(b)
    n = len(va)
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for i in range(va.shape[1]):
        dot += va[:, i] * vb[:, i]
        na += va[:, i] * va[:, i]
        nb += vb[:, i] * vb[:, i]
    return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))


def make_lsh_bucket(n_planes: int):
    """Sign-LSH bucket UDF: bit j set iff dot(v, plane_j) > 0, planes
    from the deterministic integer formula shared with the SQL side
    (dual.hyperplane_weight); the plane dot accumulates over the
    1-based dimension index in ascending order, like the SQL fold.

    NaN rule (review finding): both engines' SQL `dot > 0` evaluates
    TRUE for NaN (Spark and DuckDB order NaN as the largest double),
    while numpy's ``NaN > 0`` is False — so a NaN-component embedding
    (which passes the zero-norm guard: its dot is NaN, and NaN > 0 is
    TRUE there too) would land in a DIFFERENT bucket than the SQL
    twins. The kernel replicates the engines' NaN-is-largest rule
    explicitly."""

    @pandas_udf(IntegerType())
    def lsh_bucket(e: pd.Series) -> pd.Series:
        v = _mat(e)
        n, dim = v.shape
        out = np.zeros(n, dtype=np.int64)
        for j in range(n_planes):
            acc = np.zeros(n)
            for i in range(1, dim + 1):
                acc += v[:, i - 1] * hyperplane_weight_value(j, i)
            out += ((acc > 0) | np.isnan(acc)) * (1 << j)
        return pd.Series(out.astype(np.int32))

    return lsh_bucket


def make_broadcast_model_udf(bc, kernel):
    """Arrow-batched bigint scalar UDF over one input column, closing
    over a SparkContext BROADCAST variable ``bc`` holding a frozen
    model (the BPE merge list) and a pure-Python
    ``kernel(token, model) -> int``. This is the
    real-cluster mechanics for models too large to ride the plan as
    literals: the model ships to each executor ONCE via the broadcast
    machinery, not once per task closure and never inside the plan
    string. Defined here (not at the call site) so the pd.Series type
    hints resolve against this module's globals."""

    @pandas_udf("long")
    def apply_model(tok: pd.Series) -> pd.Series:
        model = bc.value
        return tok.map(lambda t: kernel(t, model))

    return apply_model
