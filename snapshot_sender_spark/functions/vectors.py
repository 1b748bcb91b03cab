"""Vector functions over ``array<float|double>`` embedding columns.

Built from JVM-side higher-order functions (``aggregate``/``zip_with``) so the
hot path stays inside whole-stage codegen — no Python crossing for dot products
or cosine similarity. Used by operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))

