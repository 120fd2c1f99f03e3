"""Text-analysis column builders — pure Catalyst expressions.

Everything here returns pyspark Columns composed from built-in
functions (JVM-side, whole-stage-codegen'd): no Python UDFs in any
hot path. Each builder has an exact ANSI-SQL twin used by the DuckDB
oracles (see plans/ext_queries.py), which is what makes the EXT
dedup/text operators hash-checkable across engines.

Tokenization contract: the corpus is single-space separated, so
`split(text, ' ')` is the shared definition on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English stopword set shared with the SQL oracles.
EN_STOPWORDS = ("the", "a", "of", "and", "is")


def words(text: Column) -> Column:
    """Whitespace tokens (single-space contract)."""
    return F.split(text, " ")


def word_shingles(text: str, n: int = 3) -> Column:
    """n-gram word shingles as an array of space-joined strings.

    `text` is SQL text (a column name or an expression) and the
    result is ONE `F.expr`: built through the Column API with a
    Python lambda this measured ~38 ms of py4j per build, parsed
    from SQL text ~1.5 ms (4-vCPU VM). The lambda variables carry
    names no caller column is expected to have (a column of that
    name would be shadowed inside the lambda).

    The document is split ONCE: `transform(array(split(...)), w ->
    ...)[0]` binds the word array to a lambda variable, so the
    per-position lambda slices that array instead of re-splitting
    the whole text at every position (O(words) per doc, not
    O(words²)); Spark's ArrayTransform is interpreted, not codegen'd,
    so whatever a lambda body reads is paid per element. At 100 TB
    this is a per-row expression, no shuffle, no Python. Spark's
    sequence(1, 0) counts DOWN, so documents shorter than `n`
    short-circuit to an empty array instead.
    """
    return F.expr(
        f"transform(array(split({text}, ' ')), shingle_words__ -> "
        f"CASE WHEN size(shingle_words__) >= {n} THEN "
        f"transform(sequence(1, size(shingle_words__) - {n - 1}), "
        "shingle_pos__ -> concat_ws(' ', "
        f"slice(shingle_words__, shingle_pos__, {n}))) "
        "ELSE CAST(array() AS array<string>) END)[0]"
    )


def minhash_component(shingle: Column, seed: int) -> Column:
    """One MinHash hash family member: the lexicographic min (taken
    by the caller's agg) of md5(seed # shingle). Using the md5 hex
    string itself as the hash value keeps the function reproducible
    in any engine with md5 — no engine-specific 64-bit hash."""
    return F.md5(F.concat(F.lit(f"{seed}#"), shingle))


def hex4_to_int(hex4: Column) -> Column:
    """First-4-hex-chars → integer, via digit-position arithmetic
    shared verbatim with the SQL oracle (no engine hex-cast)."""
    digits = "0123456789abcdef"
    out = None
    for pos, weight in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        d = (F.instr(F.lit(digits), F.substring(hex4, pos, 1)) - 1) * weight
        out = d if out is None else out + d
    return out


def token_quality_metrics(text: str) -> dict[str, Column]:
    """Deterministic quality signals: token counts, distinct ratio,
    mean token length, stopword ratio. All integer-derived → exact
    division, stable across engines. `text` is SQL text, and each
    higher-order function is parsed from SQL text (the Python-lambda
    form cost ~58 ms of py4j per build)."""
    w = f"split({text}, ' ')"
    stop = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    n_tokens = F.expr(f"size({w})")
    n_distinct = F.expr(f"size(array_distinct({w}))")
    total_len = F.expr(f"aggregate({w}, 0, (acc, t) -> acc + length(t))")
    n_stop = F.expr(
        f"size(filter({w}, t -> array_contains(array({stop}), t)))"
    )
    return {
        "n_tokens": n_tokens,
        "n_distinct": n_distinct,
        "distinct_ratio": F.round(n_distinct / n_tokens, 4),
        "avg_token_len": F.round(total_len / n_tokens, 4),
        "stopword_ratio": F.round(n_stop / n_tokens, 4),
    }


def doc_fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct
    token set — invariant to token order/duplication, the cheap
    exact-dedup key for shuffled/reformatted copies."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(words(text))), " "))
