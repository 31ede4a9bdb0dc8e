"""Vector math over ``array<float>`` embedding columns.

All JVM-side higher-order functions — no Python in the hot path, no
explode (an exploded 64-dim column is a 64x row blowup before the
shuffle). Folds are sequential left-folds so any engine that folds
lists left-to-right (e.g. DuckDB ``list_reduce``) reproduces the exact
IEEE-754 result, making similarity scores oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    """Cast array<float> to array<double> before any arithmetic.

    Mixing float32 elements into double accumulation is engine-
    dependent; casting per-element first pins the semantics.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns.

    Index-fold over `sequence(...)` instead of `zip_with` + fold: no
    zipped intermediate array per row-pair (the hot allocation in
    all-pairs similarity), while the op sequence —
    ((0 + a1*b1) + a2*b2) + ... — is IEEE-identical to the zipped
    fold, so oracle comparisons are unaffected.
    """
    return F.aggregate(
        F.sequence(F.lit(1), F.size(a)),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(a, i) * F.element_at(b, i),
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array<double> column (same index-fold)."""
    return F.sqrt(
        F.aggregate(
            F.sequence(F.lit(1), F.size(a)),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(a, i) * F.element_at(a, i),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an array<double> column: x / ||x||.

    The standard pre-step before ANN indexing — on unit vectors,
    cosine similarity IS the dot product, so the cheaper `dot` can
    replace `cosine` everywhere downstream (and IVF/PQ train on the
    normalized space they will query in). The zero vector has no
    direction: its norm is nulled (`nullif`) so the result is an
    array of nulls rather than NaNs, which comparisons and
    aggregations then ignore instead of poisoning.
    """
    norm = F.nullif(l2_norm(a), F.lit(0.0))
    return F.transform(a, lambda x: x / norm)
