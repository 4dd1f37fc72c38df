"""Vector (embedding) expressions with cross-engine determinism.

Float summation order differs between engines, so cosine similarity on
raw floats is not oracle-stable.  The engine therefore quantizes each
embedding to integers (``round(x * SCALE)``); integer dot products and
squared norms are exact in 64-bit, and a double computed as
``dot / (sqrt(n1) * sqrt(n2))`` from exact integers is bit-identical
everywhere (IEEE ops on exact inputs are correctly rounded).

All of this is higher-order-function expression work — JVM-side, no
Python in the hot path.  At 100 TB the brute-force variants pair with
LSH bucketing (operators.similarity) to cut the candidate space.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1000


def quantize(vec: Column) -> Column:
    """array<float> → array<long> by element-wise floor(x*SCALE + 0.5).

    floor(+0.5) instead of round(): engines disagree on round()'s
    half-way rule, while floor/+/* are correctly-rounded IEEE ops —
    identical everywhere.  The float is widened to double first so
    both engines do the multiply at the same precision.
    """
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * SCALE + F.lit(0.5)).cast("bigint"),
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def norm_sq_q(a: Column) -> Column:
    return dot_q(a, a)


# NB: an element_at-unrolled dot product was tried and REJECTED: on a
# 31k-pair in-bucket join the aggregate/zip_with form measured 0.86 s
# vs 1.67 s unrolled (Spark 4's HOF evaluator is fine; the 127-node
# generated expression pays codegen compilation per stage and
# per-element null checks).  Keep the HOF form.


def cosine_q(dot: Column, n1: Column, n2: Column) -> Column:
    """Deterministic cosine from exact integer dot/norms.

    Zero-norm vectors (every |x| < 0.5/SCALE quantizes to 0) yield NULL
    explicitly: DuckDB's ``/`` nulls on a zero divisor, and guarding
    here keeps the Spark side identical under BOTH ANSI (would throw)
    and legacy (would null) division semantics.
    """
    denom = F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double"))
    return F.when(denom > 0, dot / denom)
