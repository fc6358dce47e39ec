"""Vector math over ``array<float>`` columns, JVM-side.

Embedding similarity (north-star surface; the reference has no vector ops)
runs without any Python UDF in the hot path: the dot product and norms are
``zip_with`` + ``aggregate`` higher-order functions. They are correct for
any length, but Spark evaluates HOF lambdas on the interpreted expression
path (they are excluded from whole-stage codegen), which costs ~10-30x on
wide candidate sets. The wide-vector hot path belongs in an Arrow-batched
numpy UDF instead. Summation is a left-to-right fold, the same as DuckDB's
``list_dot_product``.

Arrays are cast to double first so accumulation order effects stay in the
last ulp instead of float32 noise.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_col(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns."""
    prod = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm_col(a: Column | str) -> Column:
    sq = F.aggregate(_as_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x)
    return F.sqrt(sq)


def cosine_similarity_col(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe on zero-norm vectors (returns NULL)."""
    denom = l2_norm_col(a) * l2_norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom)
