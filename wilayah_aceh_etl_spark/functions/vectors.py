"""Embedding-vector column builders — pure Catalyst expressions.

Dot/norm/cosine as sequential left-folds over array<double>; the
fold order matches DuckDB's list_dot_product exactly (verified
bitwise-identical on the test corpus), which is what lets the
similarity queries be hash-checked against a SQL oracle at full
double precision before rounding.

Operand contract: every builder takes SQL TEXT — a column name
(`vec`), a qualified name (`a.vec`) or any SQL expression, such as
an `array_literal(...)` — and returns ONE `F.expr` over it. The
fold text lives in `dot_sql` only. SQL text rather than
`F.aggregate`/`F.zip_with` with Python lambdas because building a
higher-order function through the Column API registers each lambda
over py4j: one lambda-built dot() measured 22.4 ms of driver time
per build against 0.35 ms for the same fold parsed from SQL text
(4-vCPU VM, PySpark 4.1), with bit-identical doubles. At that
price no memo of built expressions is needed.

At scale: these are per-row expressions — a brute-force top-k over
N vectors × Q queries is a broadcast of Q against a partitioned scan
of N, no shuffle until the per-query top-k aggregation.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential-fold dot product of two
    array<double> operands: (((0.0 + a1·b1) + a2·b2) + …).

    Measured and REJECTED alternative (round 8): UNROLLING the fold
    into a flat `0.0 + a[1]·b[1] + … + a[d]·b[d]` expression chain
    for a plan-time-known dimension `d` produces the bitwise-same
    doubles (identical left-associative IEEE op sequence, including
    the leading 0.0 + that preserves the −0.0 edge) and wins in an
    ISOLATED pair-join aggregate (0.059 → 0.037 s at sf0.1) — but
    threaded through the real operators it LOST ~3× (ivf_topk
    1.10 → 3.86 s, semantic dedup 2.54 → 6.37 s, identical outputs):
    the 64-term tree gets duplicated across window/join/aggregate
    nodes where the single shared lambda did not, and the blown-up
    generated methods fall out of JIT/codegen budgets. Re-add an
    unrolled form only with a dimension-validated call site (an
    `element_at` past the array length NULLs the whole product) AND
    whole-query bench evidence."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def array_literal(values) -> str:
    """SQL text of an array<double> literal, `array(0.1D, …)`.
    `repr` of a Python float is its shortest exact round-trip
    decimal, so every value (−0.0 and subnormals included) parses
    back to the identical double. Non-finite values have no SQL
    literal and raise ValueError."""
    parts = []
    for v in values:
        v = float(v)
        if not math.isfinite(v):
            raise ValueError(f"array_literal: non-finite value {v!r}")
        parts.append(f"{v!r}D")
    return f"array({', '.join(parts)})"


def as_double(vec: str) -> Column:
    """array<float> → array<double> (promote before arithmetic so
    both engines accumulate in f64)."""
    return F.expr(f"transform({vec}, x -> CAST(x AS DOUBLE))")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product (deterministic order); see
    dot_sql."""
    return F.expr(dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(f"SQRT({dot_sql(a, a)})")


def cosine(a: str, b: str) -> Column:
    return F.expr(
        f"{dot_sql(a, b)} / (SQRT({dot_sql(a, a)}) * SQRT({dot_sql(b, b)}))"
    )


def sign_lsh_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Random-hyperplane-style LSH reduced to axis-sign bits: bucket
    id = Σ 2^i · [vec[i] > 0]. Deterministic, engine-portable, and a
    real partitioning key for bucketed similarity search (the IVF
    coarse quantizer analog)."""
    out = None
    for i in range(n_bits):
        bit = F.when(F.element_at(vec, i + 1) > 0, F.lit(1)).otherwise(F.lit(0))
        term = bit * (2**i)
        out = term if out is None else out + term
    return out
