"""Vector column expressions over ``array<float>`` embeddings.

All JVM-side higher-order functions — no Python in the hot path. Arithmetic
is done in DOUBLE with a sequential left fold, which both Spark
(``aggregate``) and DuckDB (``list_dot_product`` on DOUBLE[]) implement as a
deterministic sequential sum — the oracle comparison relies on that.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either norm is 0 (division guarded)."""
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n != 0, d / n)
