"""Vector (embedding) math with exact cross-engine determinism.

Embeddings are ``array<float>``. Naive float dot products are not
reproducible across engines (SIMD/accumulation order), so every similarity
operator first scales vectors to integers:

    x_int = round(double(x) * 2^20)        # float32→double is exact;
                                           # *2^20 is exact; round is defined

All downstream sums/products stay integers < 2^53, where IEEE double
arithmetic is exact and order-independent — so Spark's ``zip_with`` +
``aggregate`` and any oracle's unnest-and-sum produce bit-identical
results. Cosine is then ``dot / (sqrt(na) * sqrt(nb))`` over exact ints
(sqrt and division are correctly rounded → deterministic).

Precision cost: ~1e-6 relative on unit-scale embeddings — far below any
similarity threshold that matters; determinism is worth it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1 << 20


def int_vec(col: Column | str) -> Column:
    """array<float> → array<long>, fixed-point at 2^20."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * SCALE).cast("long"))


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm_sq_long(a: Column) -> Column:
    return dot_long(a, a)


def cosine_from_ints(dot: Column, na_sq: Column, nb_sq: Column) -> Column:
    """cosine from exact integer dot/norms; deterministic double result."""
    return dot.cast("double") / (
        F.sqrt(na_sq.cast("double")) * F.sqrt(nb_sq.cast("double"))
    )


def cosine_py(a: list, na_sq: int, b: list, nb_sq: int) -> float:
    """:func:`cosine_from_ints` evaluated on the driver, bit for bit:
    the dot is exact integer math, and the long→double casts, sqrt,
    product and quotient are the same correctly rounded IEEE ops."""
    dot = sum(x * y for x, y in zip(a, b))
    return float(dot) / (math.sqrt(float(na_sq)) * math.sqrt(float(nb_sq)))
