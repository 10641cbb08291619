"""Vector column expressions over ``array<float>`` embeddings.

All math is JVM-side (higher-order functions inside whole-stage codegen) —
no Python crosses the hot path. Vectors are SQL ``array<float>`` on disk
(parquet-friendly, SURVEY §1.2) and are cast to ``array<double>`` before any
arithmetic so results are reproducible against the DuckDB oracle: both
engines then fold the identical doubles in array order.

Cosine semantics follow the reference: ChromaDB cosine distance → similarity
``1 - d`` (``Hybrid_Recom_vecdb.py:183-184``) i.e. plain cosine similarity,
clamped to [0,1] (``:184-185``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """array<float> → array<double> (element-wise exact widening)."""
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product as a left fold in array order (deterministic).

    With ``dim`` known, the fold is unrolled into a flat expression tree —
    whole-stage-codegen-friendly, ~2× faster than the interpreted
    higher-order ``aggregate`` lambda, and bitwise-identical (same
    multiply/add order; the HOF's 0.0 seed is exact under fp addition).
    """
    if dim:
        s = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(2, dim + 1):
            s = s + F.element_at(a, i) * F.element_at(b, i)
        return s
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_expr(a_col: str, b_col: str, dim: int) -> Column:
    """Unrolled dot over two NAMED array<double> columns, as one SQL string.

    Same left-to-right multiply/add order as :func:`dot` (SQL ``+`` is
    left-associative) → bitwise-identical; but built with a single
    ``F.expr`` parse instead of ~3·dim py4j Column calls, which cost
    ~0.5s of driver time per operator build at dim=64.
    """
    terms = " + ".join(
        f"element_at({a_col}, {i}) * element_at({b_col}, {i})"
        for i in range(1, dim + 1)
    )
    return F.expr(terms)


def l2_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity with zero-norm guard (→ 0.0)."""
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(denom > 0, dot(a, b, dim) / denom).otherwise(F.lit(0.0))


def clamp01(x: Column) -> Column:
    """max(0, min(1, x)) — ref :184-185 (G7)."""
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), x))
