"""The SQL-text expression builders (functions/vectors.py and
functions/text.py::word_shingles) against pure-Python references:
bit-identical doubles for the folds, exact literal round-trips, and
shingles for documents shorter than, equal to and longer than n."""

from __future__ import annotations

import math
import random
import struct

import pytest

from wilayah_aceh_etl_spark.functions.text import word_shingles
from wilayah_aceh_etl_spark.functions.vectors import (
    array_literal,
    as_double,
    cosine,
    dot,
    l2_norm,
)


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _bits(v: float) -> int:
    return struct.unpack("<q", struct.pack("<d", v))[0]


def _vectors(n_rows: int, d: int, seed: int):
    rng = random.Random(seed)
    out = []
    for _ in range(n_rows):
        v = [rng.uniform(-1.0, 1.0) for _ in range(d)]
        v[rng.randrange(d)] = -0.0  # signed zero in the fold
        v[rng.randrange(d)] *= 1e-300  # far below the others
        out.append(v)
    return out


def test_folds_match_python_bit_for_bit(spark):
    # operands named like the fold's own lambda variables: a lambda
    # body reads only its own variables, so the names cannot clash
    a, b = _vectors(40, 64, 1), _vectors(40, 64, 2)
    lit = _vectors(1, 64, 3)[0]
    df = spark.createDataFrame(
        list(zip(a, b)), "x array<double>, y array<double>"
    )
    rows = df.select(
        "x",
        "y",
        dot("x", "y").alias("d"),
        dot("x", array_literal(lit)).alias("dl"),
        l2_norm("x").alias("n"),
        cosine("x", "y").alias("c"),
        cosine(array_literal(lit), "y").alias("cl"),
    ).collect()
    assert len(rows) == 40
    for r in rows:
        x, y = r["x"], r["y"]
        nx, ny, nl = (math.sqrt(_fold(v, v)) for v in (x, y, lit))
        assert _bits(r["d"]) == _bits(_fold(x, y))
        assert _bits(r["dl"]) == _bits(_fold(x, lit))
        assert _bits(r["n"]) == _bits(nx)
        assert _bits(r["c"]) == _bits(_fold(x, y) / (nx * ny))
        assert _bits(r["cl"]) == _bits(_fold(lit, y) / (nl * ny))


def test_as_double_widens_floats_exactly(spark):
    vals = [0.1, -0.0, 3.4028234663852886e38, 1.401298464324817e-45]
    df = spark.createDataFrame([(vals,)], "e array<float>")
    got = df.select(as_double("e").alias("v")).first()["v"]
    want = [struct.unpack("<f", struct.pack("<f", v))[0] for v in vals]
    assert [_bits(g) for g in got] == [_bits(w) for w in want]
    assert df.select(as_double("e")).schema[0].dataType.simpleString() == (
        "array<double>"
    )


def test_array_literal_round_trips_exactly(spark):
    vals = [-0.0, 5e-324, 1.7976931348623157e308, 0.1, -1e16, 2.5e-310]
    df = spark.range(1).selectExpr(f"{array_literal(vals)} AS v")
    assert df.schema["v"].dataType.simpleString() == "array<double>"
    assert [_bits(v) for v in df.first()["v"]] == [_bits(v) for v in vals]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_array_literal_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        array_literal([1.0, bad])


def _py_shingles(text: str, n: int) -> list[str]:
    w = text.split(" ")
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_word_shingles_match_python(spark, n):
    # 1..6 words: shorter than, equal to and longer than every n; the
    # text column is named `i`, a likely lambda-variable name
    docs = [" ".join(f"w{k % 3}" for k in range(m)) for m in range(1, 7)]
    docs.append("")
    df = spark.createDataFrame([(d,) for d in docs], "i string")
    got = df.select("i", word_shingles("i", n).alias("sh")).collect()
    assert {r["i"]: list(r["sh"]) for r in got} == {
        d: _py_shingles(d, n) for d in docs
    }
    expr_sh = df.select(word_shingles("upper(i)", n).alias("sh")).collect()
    assert [list(r["sh"]) for r in expr_sh] == [
        _py_shingles(d.upper(), n) for d in docs
    ]
