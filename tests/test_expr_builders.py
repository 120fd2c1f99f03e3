"""The SQL-text expression builders (functions/vectors.py,
functions/text.py::word_shingles and token_quality_metrics,
operators/text_analysis.py::gopher_rule_flags) against pure-Python
references: bit-identical doubles for the folds, exact literal
round-trips, shingles for documents shorter than, equal to and
longer than n, and the per-document text signals."""

from __future__ import annotations

import math
import random
import re
import struct
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest

from wilayah_aceh_etl_spark.functions.text import (
    EN_STOPWORDS,
    token_quality_metrics,
    word_shingles,
)
from wilayah_aceh_etl_spark.operators.text_analysis import gopher_rule_flags
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


def _round4(x: float) -> float:
    """Spark's round(x, 4): HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _text_docs(seed: int) -> list[tuple[int, str | None]]:
    # stopwords, mixed case, digits and empty tokens (double spaces);
    # lengths on both sides of the Gopher 50-word bound
    rng = random.Random(seed)
    vocab = ["the", "The", "a", "of", "and", "is", "be", "to", "that",
             "have", "with", "cat", "sat", "mat", "x1", "42", "zebra",
             "verylongwordhere", ""]
    docs = [(0, ""), (1, None), (2, "a"), (3, "the  cat")]
    for i in range(4, 40):
        n = rng.choice([1, 3, 10, 49, 50, 51, 120])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    return docs


def test_token_quality_metrics_match_python(spark):
    docs = _text_docs(7)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    m = token_quality_metrics("text")
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[c.alias(k) for k, c in m.items()]
        ).collect()
    }
    for doc_id, text in docs:
        r = got.pop(doc_id)
        if text is None:
            assert all(r[k] is None for k in m), r
            continue
        w = text.split(" ")
        n = len(w)
        assert r["n_tokens"] == n and r["n_distinct"] == len(set(w))
        assert r["distinct_ratio"] == _round4(len(set(w)) / n)
        assert r["avg_token_len"] == _round4(sum(map(len, w)) / n)
        n_stop = sum(t in EN_STOPWORDS for t in w)
        assert r["stopword_ratio"] == _round4(n_stop / n)
    assert not got


def _py_gopher(text: str) -> dict[str, int]:
    w = text.split(" ")
    wc, chars = len(w), len(text) - len(w) + 1
    alpha = sum(bool(re.fullmatch("[a-z]+", t)) for t in w)
    stop = sum(
        t in ("the", "be", "to", "of", "and", "that", "have", "with")
        for t in w
    )
    top = max(Counter(w).values())
    return {
        "r_wc": int(50 <= wc <= 100000),
        "r_mwl": int(3 * wc <= chars <= 10 * wc),
        "r_alpha": int(5 * alpha >= 4 * wc),
        "r_stop": int(stop >= 2),
        "r_rep": int(5 * top <= wc),
    }


def test_gopher_rule_flags_match_python(spark):
    docs = _text_docs(11)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: {k: v for k, v in r.asDict().items() if k != "doc_id"}
        for r in gopher_rule_flags(df).collect()
    }
    # a null text has no words, so the top-word join drops it
    want = {i: _py_gopher(t) for i, t in docs if t is not None}
    assert got == want
    flags = [f for v in want.values() for f in v.values()]
    assert 0 in flags and 1 in flags
