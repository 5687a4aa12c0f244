"""Vector math as Catalyst expressions (SURVEY §2.5 support).

Scores accumulate in float64 regardless of the float32 storage type —
SURVEY §7.3 watch list: float-sum order can flip near-equal ranks, so all
dot products here cast to double and fold left-to-right, which makes the
result bit-identical to a sequential double-precision oracle (DuckDB
``list_dot_product`` on a DOUBLE[] cast, or numpy float64 dot).

These run inside whole-stage codegen — no Python. For the bulk kNN path
(millions×millions) prefer operators/knn.py's mapInPandas matmul, which
moves the same math into BLAS over Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product with float64 accumulation, left-to-right fold."""
    av = _c(a).cast("array<double>")
    bv = _c(b).cast("array<double>")
    return F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    av = _c(a).cast("array<double>")
    return F.sqrt(
        F.aggregate(av, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0 when either vector is all-zero."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))
