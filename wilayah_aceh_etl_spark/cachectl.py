"""Computed-result state: the trained-model memo, and how a cold
benchmark drops it.

The engine holds two kinds of state derived from data: Spark's
CacheManager entries for the `persist()`ed intermediates inside query
functions, and `_MODEL_MEMO`, the driver-side values of trained
models (KMeans centroids, logistic-regression trajectories).
`trained(df, params, train)` is the memo's only entry point and owns
its whole reuse rule.

A timed run that reads either kind measures a cache read, not
execution. `clear_computed_caches(spark)` drops both; bench.py calls
it before every cold-timed iteration so each cold figure pays the
full computation from the parquet inputs (KMeans training included).
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

# (params, plan digest, file fingerprint) -> trained value
_MODEL_MEMO: dict[tuple, object] = {}


def trained(df: DataFrame, params: tuple, train: Callable[[], T]) -> T:
    """`train()`, memoized for the corpus `df` under `params` (the
    trainer's name, then its configuration). The value is returned
    as stored, so a warm call is bit-identical to the cold one;
    callers must not mutate it.

    A trained model is reused only for the same corpus, and a corpus
    has two identities, both in the key. `_plan_digest` names what
    is computed from the files: two filters or projections over one
    file set are different corpora and get separate entries, which
    matters because semantic_dedup drops rows by the centroids.
    `_corpus_fingerprint` names the files: when they change under
    the same plan, the model retrains instead of serving values
    trained on the old data, and inserting the new fingerprint
    evicts the older ones of the same (params, digest), so a driver
    retraining over a mutating table holds one entry per logical
    corpus. When either identity is unobservable (an in-memory
    source has no files; Spark Connect has no JVM plan) the memo is
    bypassed and `train()` runs fresh."""
    digest, fp = _plan_digest(df), _corpus_fingerprint(df)
    if digest is None or fp is None:
        return train()
    key = (params, digest, fp)
    if key not in _MODEL_MEMO:
        value = train()
        for stale in [k for k in _MODEL_MEMO if k[:2] == key[:2]]:
            del _MODEL_MEMO[stale]
        _MODEL_MEMO[key] = value
    return _MODEL_MEMO[key]


def _corpus_fingerprint(df: DataFrame) -> str | None:
    """md5 of the (uri, size, mtime_ns) of every file behind the
    scan: driver-side os.stat only, so a memo hit runs no Spark job.
    None when the corpus is not file-backed (inputFiles() empty or
    unavailable)."""
    import hashlib
    import os

    sig: list[tuple] = []
    try:
        for uri in sorted(df.inputFiles()):
            path = uri[5:] if uri.startswith("file:") else uri
            try:
                st = os.stat(path)
                sig.append((uri, st.st_size, st.st_mtime_ns))
            except OSError:
                sig.append((uri, -1, -1))
    except Exception:
        return None
    if not sig:
        return None
    return hashlib.md5(repr(sig).encode()).hexdigest()


def _plan_digest(df: DataFrame) -> str | None:
    """md5 of the analyzed logical plan, rendered with no field
    limit: the default render elides attribute lists past 25 fields,
    so plans differing only in the elided tail would digest alike,
    and this render changes no session conf. Expression ids (`#123`)
    are renumbered by first appearance, so the same corpus rebuilt
    from a fresh load digests alike, while the two sides of a
    self-join, which differ only in their id cross-references, stay
    apart.
    Spark's canonicalized plan is no substitute: it drops alias
    names, so a swapped `embedding` alias would alias two corpora.
    None under Spark Connect (no `_jdf`)."""
    import hashlib
    import re

    try:
        plan = (
            df._jdf.queryExecution()
            .analyzed()
            .treeString(True, False, 2**31 - 1, False, False)
        )
    except Exception:
        return None
    seen: dict[str, str] = {}

    def canon(m: "re.Match[str]") -> str:
        return seen.setdefault(m.group(0), f"#e{len(seen)}")

    return hashlib.md5(re.sub(r"#\d+", canon, plan).encode()).hexdigest()


def clear_computed_caches(spark) -> None:
    """Drop every computed-result cache: the session's CacheManager
    entries and the trained-model memo."""
    spark.catalog.clearCache()
    _MODEL_MEMO.clear()
