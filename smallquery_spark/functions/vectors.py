"""Vector column expressions (SURVEY.md §2 C3/C6, B46).

All JVM-side: higher-order functions (``transform`` / ``zip_with`` /
``aggregate``) over ``array<float>`` embedding columns, evaluated inside
whole-stage codegen — no Python round-trip in the hot path.

Determinism contract: every reduction is a *sequential left fold in
array order* (Spark's ``aggregate`` semantics), matching DuckDB's
sequential list reductions — so scores are bit-identical across engines
and safe to rank on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(v: Column | str) -> Column:
    """array<float> → array<double> (promote once, fold in double)."""
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: sequential left fold over zip_with products."""
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(v: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(
            to_double(v), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity (0 when either side has zero norm)."""
    d = dot(a, b)
    na, nb = norm2(a), norm2(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def l2_normalize(v: Column | str) -> Column:
    """Unit-normalize an embedding (kept as array<double>)."""
    n = norm2(v)
    return F.when(n == 0, to_double(v)).otherwise(
        F.transform(to_double(v), lambda x: x / n)
    )
