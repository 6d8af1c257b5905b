"""Vector math over ``array<float>`` embedding columns ([EXT]).

Built-in higher-order functions only (``zip_with`` + ``aggregate``) —
JVM-side, no Python boundary, no UDF. Computation is promoted to double
before accumulating so results match DuckDB's ``list_cosine_similarity``
over ``DOUBLE[]`` to ~1e-15.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation (sequential left fold — same
    association order as DuckDB's list accumulation). With :func:`norm`
    and :func:`cosine` this is the reference the flat folds are pinned
    bit-identical to; operators score through the flat folds, since a
    ``zip_with`` nested in ``aggregate`` mis-evaluates in long sessions
    (:func:`dot_flat`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_flat(a_name: str, b_name: str, dim: int) -> Column:
    """Σ aᵢ·bᵢ as a SINGLE-LEVEL fold over an index sequence:
    ``aggregate(sequence(1, dim), 0.0, (acc, i) -> acc + a[i]·b[i])``.
    Bit-identical to :func:`dot` (same left-associated order, verified
    over real data), evaluates at HOF-loop speed, and carries exactly
    ONE non-nested lambda — no ``zip_with``-inside-``aggregate``
    binding, which is the construct class proven to mis-evaluate in
    long many-plan sessions (BASELINE.md round-4 note; the failing
    cases all nested one lambda's body inside another's). The round-5
    measurements (BASELINE.md) showed the two fully-lambda-free
    alternatives are not viable on pair-scoring paths: unrolled
    ``element_at`` chains cost ~1.7 s of Catalyst analysis per build
    plus 3-10× interpreted eval, and Arrow UDFs pay ~0.5-1 s fixed
    Python-stage overhead per query at harness scale. The residual
    single-level risk is mechanized away by
    tests/test_long_session.py, which replays an 80-plan prefix and
    oracle-checks every ANN flagship in the polluted session."""
    return F.expr(
        f"aggregate(sequence(1, {dim}), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + CAST(element_at({a_name}, i) AS DOUBLE)"
        f" * CAST(element_at({b_name}, i) AS DOUBLE))"
    )


def cosine_flat(a_name: str, b_name: str, dim: int) -> Column:
    """Single-level-fold cosine (see :func:`dot_flat`): three flat
    folds, ``dot/(√Σa²·√Σb²)`` — bit-identical to :func:`cosine`."""
    return dot_flat(a_name, b_name, dim) / (
        F.sqrt(dot_flat(a_name, a_name, dim))
        * F.sqrt(dot_flat(b_name, b_name, dim))
    )


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized pair dot product: one NumPy row-wise
    multiply-sum per batch in the Python worker — zero JVM lambda
    bindings (BASELINE.md round-4 note) at vectorized speed
    (BASELINE.md round-5 note). Summation is NumPy's pairwise order,
    not the sequential fold — differences live below the round-6
    comparison grid for unit-norm 64-dim inputs (boundary-flip
    probability ~1e-10 per value; same documented assumption class as
    the hyperplane sign test)."""
    return dot_pandas()(a, b)


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized pair cosine (see :func:`dot_arrow`)."""

    @F.pandas_udf("double")
    def _cos(s1: pd.Series, s2: pd.Series) -> pd.Series:
        if not len(s1):
            return pd.Series([], dtype="float64")
        lhs = np.stack(s1.to_numpy()).astype("float64")
        rhs = np.stack(s2.to_numpy()).astype("float64")
        num = (lhs * rhs).sum(axis=1)
        den = np.sqrt((lhs * lhs).sum(axis=1)) * np.sqrt(
            (rhs * rhs).sum(axis=1)
        )
        return pd.Series(num / den)

    return _cos(a, b)


def dot_pandas() -> "Column":
    """Arrow-vectorized alternative to :func:`dot` — a ``pandas_udf``
    whose batches are NumPy-stacked and reduced with one vectorized
    multiply-sum. Numerically identical to the JVM fold for 64-dim
    float32→float64 promotion (pairwise vs sequential summation differ
    only below round-6 for these magnitudes; equality is pinned in
    tests).

    The JVM path wins below ~256 dims (no serialization); the Arrow path
    wins for wide vectors or when the batch is reused for several
    reductions. Returned as a factory so importing this module never
    requires an active SparkSession.
    """
    @F.pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        lhs = np.stack(a.to_numpy()).astype("float64")
        rhs = np.stack(b.to_numpy()).astype("float64")
        return pd.Series((lhs * rhs).sum(axis=1))

    return _dot
