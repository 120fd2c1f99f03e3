"""Similarity search over embedding columns.

Two paths:
  brute-force — exact cosine top-k: broadcast the (small) query set
    against a partitioned scan of the corpus; per-query top-k via
    ranking window. The correctness baseline.
  LSH-bucketed — sign-bit bucket as a coarse quantizer (IVF analog):
    vectors are bucketed once (write-time partition key at scale),
    queries probe only their bucket → the candidate join is
    bucket-local, O(corpus/2^bits) per query instead of O(corpus).

All arithmetic is sequential-fold double math (functions/vectors.py)
— bitwise equal to the DuckDB oracle, so even the FP path is
hash-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.functions.vectors import (
    as_double,
    dot,
    dot_sql,
    l2_norm,
    sign_lsh_bucket,
)
from wilayah_aceh_etl_spark.session import local_frame


def _prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("vec")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of corpus for each query vector.

    Plan shape: broadcast(queries) × corpus scan → per-row cosine →
    window top-k on query_id. No corpus self-shuffle."""
    from pyspark.sql.window import Window

    c = _prep(corpus, id_col, vec_col).withColumn(
        "nrm", l2_norm("vec")
    )
    q = _prep(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        l2_norm("vec").alias("qnrm"),
    )
    # norms hoisted out of the Q×N product: dot/(qnrm·nrm) is the
    # bitwise-same double as cosine (sqrt/division are IEEE-exact),
    # one interpreted HOF fold per candidate instead of three
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot("qvec", "vec")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", F.round("_cos", 6).alias("cos_sim"), "rk")
    )


def threshold_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup dedup).
    Exact all-pairs — the ground-truth/verification path; use
    bucketed_pairs for the at-scale variant."""
    v = _prep(corpus, id_col, vec_col).withColumn(
        "nrm", l2_norm("vec")
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            # hoisted norms: bitwise-identical to cosine(a,b)
            (
                dot("a.vec", "b.vec")
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .select("vec_a", "vec_b", F.round("_cos", 6).alias("cos_sim"))
    )


def bucket_assignments(
    corpus: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket id per vector — the coarse partitioning used
    for bucket-local search (and, at scale, the table's physical
    partition column)."""
    v = _prep(corpus, id_col, vec_col)
    return v.select(
        "vec_id", sign_lsh_bucket(F.col("vec"), n_bits).alias("bucket"), "vec"
    )


def bucketed_pairs(
    corpus: DataFrame,
    threshold: float,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs restricted to same-bucket candidates: the join
    is on the bucket key, so work scales with Σ bucket² instead of
    corpus². Recall loss vs threshold_pairs is the usual LSH
    trade-off (sign bits must agree)."""
    v = bucket_assignments(corpus, n_bits, id_col, vec_col).withColumn(
        "nrm", l2_norm("vec")
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            # hoisted norms: bitwise-identical to cosine(a,b)
            (
                dot("a.vec", "b.vec")
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .select("vec_a", "vec_b", F.round("_cos", 6).alias("cos_sim"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every vector to
    its nearest centroid (the inverted lists), probe only the
    `n_probe` centroids nearest each query, exact cosine within the
    probed lists.

    Centroids here are the first `n_centroids` corpus vectors by id —
    deterministic, so the whole structure is oracle-checkable in SQL.
    At scale you'd swap in k-means centroids (pyspark.ml) and make
    `centroid` the table's physical partition key so a probe reads
    n_probe/n_centroids of the corpus; the query plan is unchanged.

    Work: assignment is one map-side pass O(N·C); search touches
    only probed lists, O(Q · n_probe · N/C) instead of O(Q · N).

    Assignment (_assign_nearest) folds max(struct(cos, -cid)) per
    row over ONE array value holding every centroid: no join and no
    assignment exchange (a groupBy(vec_id) max shuffled N rows).

    (Measured alternative, once rejected, now adopted: the one-array
    fold. As transform+array_max over a broadcast row it benched
    2.3 s against 1.5 s for the flat join at sf0.1/local[32]. As an
    aggregate+greatest fold read through a scalar subquery, the
    probe set sorted from the same array, on a 4-vCPU VM, local[3]:
    perfbench llm_curation's fresh trained-IVF op costs 22.5 CPU-s
    against 27.8 and a repeat 3.8 against 5.4 (median of 10; a cold
    JVM compiles no join, exchange or probe window and starts no
    Python worker); warm min-of-5 wall at sf0.1 is 1.35–1.92 s
    against 1.82–2.31 s here; at sf1 this query and the trained one
    are within noise, and ivf_kmeans_topk is 5–8 % slower, its Lloyd
    passes having lost a codegen'd literal argmax that only scaled
    to C ≤ 256.)"""
    c = _prep(corpus, id_col, vec_col)
    cent = c.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    q = _prep(queries, id_col, vec_col)
    return _ivf_search(c, cent, q, k, n_probe)


_CENTROID_SCHEMA = "cid long, cvec array<double>"
_CS_SCHEMA = "_cs array<struct<cid: bigint, cvec: array<double>, cnrm: double>>"


def _score_sql(vec: str, nrm: str, k: str) -> str:
    """SQL text of struct(c = cosine of `vec` to centroid `k`,
    n = -cid): the (cos, -cid) encoding whose struct maximum is the
    nearest centroid with ties to the low cid. Norms are hoisted:
    sqrt/division are IEEE-exact, so dot/(nrm·cnrm) is the
    bitwise-same double as cosine with one fold per pair, not
    three."""
    return (
        f"named_struct('c', {dot_sql(vec, k + '.cvec')} / ({nrm} * {k}.cnrm),"
        f" 'n', -CAST({k}.cid AS BIGINT))"
    )


def _local_centroid_row(spark: SparkSession, cents) -> DataFrame:
    """The one-row `_cs` relation (array<struct<cid, cvec, cnrm>>)
    over driver-held (cid, floats) centroids, as a LocalRelation —
    no rows when there are no centroids, so assignment yields none.
    cnrm is the sequential fold of l2_norm run in Python: the same
    IEEE operations in the same order, so the same double."""

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    cs = [{"cid": cid, "cvec": v, "cnrm": norm(v)} for cid, v in cents]
    return local_frame(spark, [(cs,)] if cs else [], _CS_SCHEMA)


def _centroid_row(cent: DataFrame) -> DataFrame:
    """`cent` as the one-row `_cs` relation: passed through when it
    already is one, else a (cid, cvec[, cnrm]) relation folded by one
    tiny aggregate (a relation-held centroid table — first-C seeds,
    a stored `_centroids` table). A relation without rows folds to
    no row, not to an empty array."""
    if "_cs" in cent.columns:
        return cent
    if "cnrm" not in cent.columns:
        cent = cent.withColumn("cnrm", l2_norm("cvec"))
    return cent.agg(
        F.expr("collect_list(struct(cid, cvec, cnrm)) AS _cs")
    ).filter("size(_cs) > 0")


def _with_centroids(
    df: DataFrame, cent: DataFrame, name: str = "_cs"
) -> DataFrame:
    """df plus column `name`: the centroid array of _centroid_row(cent),
    read through a scalar subquery. Spark evaluates it once per query,
    and over a LocalRelation without a Spark job, where a broadcast of
    the row ran one and put a nested-loop join in the plan. With no
    centroids there are no rows, as with the former inner join."""
    cs = _centroid_row(cent).select("_cs").scalar()
    return df.select("*", cs.alias(name)).where(F.col(name).isNotNull())


def _nearest(vec: str, nrm: str, cs: str = "_cs") -> Column:
    """The nearest-centroid kernel: max of (cos, -cid) over the `_cs`
    array of the row, as struct(c, n). One fold per row, map-side.

    Callers generate its fields (`inline(array(...))`) rather than
    project them: an equi-join on the centroid downstream infers
    `isnotnull(centroid)`, and the optimizer pushes that filter
    through a Project, below it — the fold then runs twice per row —
    but not through a Generate."""
    return F.expr(
        f"aggregate({cs}, CAST(NULL AS STRUCT<c: DOUBLE, n: BIGINT>), "
        f"(best, k) -> greatest(best, {_score_sql(vec, nrm, 'k')}))"
    )


def _assign_nearest(c: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment shared by every coarse-quantizer
    consumer (Lloyd training, _ivf_search's inverted lists,
    semantic_dedup's cluster ids, prototypes, write_ivf_layout):
    argmax cosine with ties to the low cid, the max of (cos, -cid) —
    the ONE copy of this tie-break-sensitive encoding that every
    oracle must mirror. `cent` is anything _centroid_row takes.
    Returns (vec_id, vec, nrm, centroid, _cent_cos), one row per
    input row, folded map-side (_nearest): no join, no exchange. The
    per-vector `nrm` rides along for downstream candidate scans."""
    if "nrm" not in c.columns:
        c = c.withColumn("nrm", l2_norm("vec"))
    return (
        _with_centroids(c, cent)
        .select(
            "vec_id", "vec", "nrm", F.inline(F.array(_nearest("vec", "nrm")))
        )
        .select(
            "vec_id",
            "vec",
            "nrm",
            (-F.col("n")).alias("centroid"),
            F.col("c").alias("_cent_cos"),
        )
    )


def _probes(
    q: DataFrame, cent: DataFrame, vec: str, nrm: str, n_probe: int
) -> DataFrame:
    """q's columns plus `centroid`, one row for each of the `n_probe`
    centroids nearest `vec` in (cos desc, cid) order — the kernel's
    scores sorted in place, so no window and no exchange."""
    top = F.expr(
        f"slice(sort_array(transform(_cs, k -> {_score_sql(vec, nrm, 'k')}),"
        f" false), 1, {n_probe})"
    )
    return (
        _with_centroids(q, cent)
        .select(*q.columns, F.explode(top).alias("_p"))
        .select(*q.columns, (-F.col("_p.n")).alias("centroid"))
    )


def _ivf_search(
    c: DataFrame, cent: DataFrame, q: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """The IVF read path, independent of how the coarse quantizer
    was trained: `cent` is any centroid relation _centroid_row
    accepts — first-C-by-id (ivf_topk) or Lloyd-trained
    (ivf_kmeans_topk) — and the plan is the same either way."""
    from pyspark.sql.window import Window

    cs = _centroid_row(cent)
    # inverted lists: nearest centroid per corpus vector (carries
    # the hoisted per-vector norm for the candidate scan below)
    lists = _assign_nearest(c, cs).drop("_cent_cos")
    # probe set: n_probe nearest centroids per query
    probes = _probes(
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            l2_norm("vec").alias("qnrm"),
        ),
        cs,
        "qvec",
        "qnrm",
        n_probe,
    )

    # exact cosine, probed lists only — one HOF fold per candidate
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return (
        F.broadcast(probes)
        .join(lists, "centroid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot("qvec", "vec")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("_cos"),
        )
        .withColumn("rk", F.row_number().over(w_topk))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", F.round("_cos", 6).alias("cos_sim"), "rk")
    )


# Lloyd's mean quantum: each coordinate is summed as the exact
# integer round(x·2²⁴), so the mean is one division of exact ints
_Q = 16777216


def _mean_step(vn: DataFrame, cents, d: int) -> DataFrame:
    """One Lloyd iteration before its collect: the vectors of `vn`
    (vec_id, vec, nrm) assigned to the driver-held `cents`, as
    (cid, j, n, s) rows — for each cid and 0-based dimension j, the
    vector count n and the quantized sum s of component j.

    ONE aggregate keyed by (cid, j), whose functions do not grow
    with d: each assigned row is exploded over the positions
    0 … d−1 in the assignment's map stage, and the partial aggregate
    combines them before the exchange, which carries at most
    partitions · C · d rows — not the O(N · d) exploded join. Each
    (cid, j) is a row of its own, so at large C this shuffles more
    bytes than the d-column form did: 2.5× at the derived-C
    SemDeDup's C = N/16 (sf1, C = 1 250: 3.4 against 1.3 MB).
    Component j is read with element_at, as the d-column form did:
    a vector longer than d contributes its first d components, a
    shorter one raises, and a NULL vector is counted with no sum."""
    return (
        _assign_nearest(vn, _local_centroid_row(vn.sparkSession, cents))
        .select(
            F.col("centroid").alias("cid"),
            "vec",
            F.expr(f"explode(sequence(0, {d - 1}))").alias("j"),
        )
        .groupBy("cid", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                f"CAST(sum(CAST(round(element_at(vec, j + 1) * {_Q})"
                " AS BIGINT)) AS BIGINT) AS s"
            ),
        )
    )


def _lloyd(
    v: DataFrame, n_centroids: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """kmeans_centroids' training on a prepared (vec_id, vec)
    relation: the driver-held (cid, floats) centroids, ascending by
    cid."""
    # centroids live on the driver, keyed by their ORIGINAL cid so
    # tie-breaks stay aligned with the SQL oracle even if a cluster
    # empties mid-training. Seeds are the first C vectors by id RANK
    # (orderBy+limit → TakeOrdered), not by id VALUE: identical on
    # the dense 0-based corpora every oracle assumes (rank-k == id<C
    # there), but a filtered/offset corpus — the derived-C path's
    # audience — still gets its full C seeds instead of however many
    # ids happen to fall below C (possibly zero). The seeds also give
    # d, so no dimension probe runs.
    cents = [
        (int(r["vec_id"]), list(r["vec"]))
        for r in v.orderBy("vec_id").limit(n_centroids).collect()
    ]
    d = len(cents[0][1]) if cents else 0
    if cents and not d:
        # zero-norm centroids: no cosine, and no position to sum
        raise ValueError(
            "kmeans_centroids: the seed embeddings are empty (dimension 0)"
        )
    # per-row vector norm hoisted out of the C-way argmax
    vn = v.withColumn("nrm", l2_norm("vec"))
    for _ in range(n_iter):
        # fold the (cid, j, n, s) rows into per-cid coordinates; empty
        # clusters simply have no row, exactly like GROUP BY on the
        # oracle side
        acc: dict[int, list[float]] = {}
        for r in _mean_step(vn, cents, d).collect():
            acc.setdefault(int(r["cid"]), [0.0] * d)[r["j"]] = (
                float(r["s"]) / r["n"] / _Q
            )
        cents = sorted(acc.items())
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-trained coarse quantizer for IVF: (cid, cvec) after
    `n_iter` k-means iterations, seeded with the first `n_centroids`
    vectors by id (deterministic). Cross-engine determinism for the
    chained float decisions uses the repo's QUANTIZED-mean device
    (plans/round6_queries.py::embedding_kmeans_3iter): per-dimension
    sums are exact integers of ROUND(val·2²⁴), so every trained
    coordinate is one division of exact ints and assignment
    comparisons can never diverge between engines.

    SPHERICAL k-means: assignment maximizes COSINE, not L2 — the
    same rule the IVF read path uses to build inverted lists and
    route probes. Training objective == search metric is what makes
    the trained quantizer beat the seeded one on recall; an L2-
    trained quantizer searched by cosine was measured WORSE than the
    first-C seed on this corpus (0.85 vs 0.90 recall@10 at
    probe 4/16 — metric mismatch, not a k-means failure).

    Scale: the MLlib shape — centroids live on the DRIVER (C×d
    doubles, collected once per iteration: the driver-memory bound is
    O(C·d) — ~49 MB at C=10⁵/d=64; past ~10⁶·d doubles a two-level
    quantizer, imi_topk, is the published next step). Each iteration
    ships them to the JVM as one local `_cs` row and assigns with
    _assign_nearest, the same kernel for every C: the plan holds C
    centroids as data, not as C literal expressions, so it stays one
    fold per row at the 10⁴–10⁶ C the derived-C SemDeDup default
    produces, and no assignment exchange runs. The mean recompute
    (_mean_step) is ONE aggregate keyed by (cid, dimension) — a
    count and one quantized sum, whatever d is — over each assigned
    vector exploded by position in the map stage; it partial-combines
    before the exchange, so the trainer's only shuffle per iteration
    is at most partitions × C × d (cid, j, count, sum) rows, and the
    driver folds C × d of them. Its plan does not grow with d, so
    neither does the code a cold JVM generates and JIT-compiles for
    it. At the derived C = N/16 it shuffles 2.5× the bytes of the
    d-column form it replaced, and its warm wall time, isolated, is
    lower at sf0.1 (C = 125: 0.37–0.47 against 0.56–0.97 s) and
    level to 20 % higher at sf1 (C = 1 250: 1.20–1.40 against
    0.99–1.43 s). Both are small beside the C-way assignment there,
    ~90 s per iteration at sf1, C = 1 250. The result is a
    LocalRelation (session.local_frame)."""
    return local_frame(
        corpus.sparkSession,
        _lloyd(_prep(corpus, id_col, vec_col), n_centroids, n_iter),
        _CENTROID_SCHEMA,
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_topk with a Lloyd-TRAINED coarse quantizer instead of the
    first-C-by-id seed: centroids adapt to the data distribution, so
    probes land where neighbors actually are. Measured recall@10 at
    probe 4/16, sf0.01, on queries DISJOINT from the seed ids:
    seeded 0.40 vs trained 0.55 (tests/test_round5_ops.py). Caveat
    that measurement surfaced: the original recall meter queried
    vec_id<5 — vectors that ARE seed centroids of the first-16
    quantizer, so each probed its own Voronoi cell and inflated
    seeded recall to ~0.90; always evaluate ANN recall on queries
    outside the training seed. The read path is _ivf_search,
    byte-identical to ivf_topk's."""
    c = _prep(corpus, id_col, vec_col)
    cs = _local_centroid_row(
        corpus.sparkSession, _lloyd(c, n_centroids, n_iter)
    )
    return _ivf_search(c, cs, _prep(queries, id_col, vec_col), k, n_probe)


# Trained coarse quantizers are BUILD artifacts: a real IVF system
# trains the quantizer once when the index is built and serves every
# query against it — training cost is amortized over the index
# lifetime, exactly like ANN-benchmark practice (index build is
# reported separately from search latency). This memo keys on
# (cache_key, C, iters) so repeated reads of the same corpus pay
# training once; the driver-side payload is C×d floats (16×64 ≈ 8 KB
# at the defaults), the same O(C·d) state kmeans_centroids already
# keeps on the driver between Lloyd iterations.
_TRAINED_CENTROID_CACHE: dict[tuple, list[tuple[int, list[float]]]] = {}

# The centroid DataFrames per (key, session) — the (cid, cvec)
# relation and its one-row `_cs` fold — built once from the floats,
# so every caller gets the SAME objects and serves rebuild nothing.
# Values hold (session, frames); the session is identity-checked on
# lookup so a restarted driver never receives a DataFrame bound to a
# dead session.
_TRAINED_CENTROID_DF_CACHE: dict[tuple, tuple] = {}


def _corpus_fingerprint(df: DataFrame) -> str | None:
    """Best-effort data fingerprint for the trained-centroid memo:
    the (uri, size, mtime_ns) of every file backing the scan, hashed.
    Pure driver-side file metadata — no Spark job, no data read — so
    the warm path stays free. If the corpus files change under the
    same cache_key, the fingerprint changes and the quantizer
    retrains instead of silently serving a stale index.

    Returns None when the corpus is NOT file-backed (createDataFrame,
    in-memory views — inputFiles() empty or unavailable): such a
    corpus has no observable identity, so the caller must BYPASS the
    memo and train fresh rather than risk serving another corpus's
    centroids — the failure mode matters because semantic_dedup
    DROPS rows based on these centroids."""
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
    """Best-effort digest of the DataFrame's ANALYZED logical plan,
    with per-session expression ids (`#123`) CANONICALIZED — each
    distinct id replaced by its order of first appearance — so the
    same logical corpus rebuilt from a fresh load hashes identically
    (plan construction assigns fresh ids in the same deterministic
    order). Canonicalizing rather than erasing matters: two corpora
    that differ only in WHICH side of a self-join a column comes
    from differ only in their id cross-references, which erasure
    would collapse into one digest.

    Why it exists (r7 advice): _corpus_fingerprint keys on backing
    FILES only, so two logically different corpora derived from the
    same files (different filters/projections) would otherwise share
    a memo entry — dangerous, since semantic_dedup DROPS rows based
    on the cached centroids. Folding the plan shape into the key
    closes that aliasing.

    Returns None under Spark Connect (no _jdf surface); the caller
    must then BYPASS the memo (train fresh), the same conservative
    rule as a missing file fingerprint — a docstring contract is not
    enough when a collision drops the wrong rows.

    Truncation guard (r8 advice): the default plan rendering elides
    attribute lists past spark.sql.debug.maxToStringFields (25) with
    '... N more fields', so two corpora whose plans differ only in
    the elided tail would digest identically — recreating the exact
    aliasing this digest exists to prevent. The conf is raised to
    2^30 around the render (and restored in a finally), so the
    digest always sees the full attribute lists."""
    import hashlib
    import re

    _MAXF = "spark.sql.debug.maxToStringFields"
    try:
        conf = df.sparkSession.conf
        prev = conf.get(_MAXF, None)
        conf.set(_MAXF, str(1 << 30))
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        finally:
            if prev is None:
                conf.unset(_MAXF)
            else:
                conf.set(_MAXF, prev)
    except Exception:
        return None
    seen: dict[str, str] = {}

    def canon(m: "re.Match[str]") -> str:
        return seen.setdefault(m.group(0), f"#e{len(seen)}")

    return hashlib.md5(re.sub(r"#\d+", canon, plan).encode()).hexdigest()


def kmeans_centroids_cached(
    corpus: DataFrame,
    cache_key: str,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kmeans_centroids with per-(corpus, config) memoization of the
    driver-side centroid values. First call trains (n_iter Lloyd
    passes over the corpus); later calls in the same session return
    the same (cid, cvec) LocalRelation. Determinism is unaffected: the
    cached values ARE the quantized-mean training output, so a cold
    and a warm call return bit-identical centroids.

    Staleness contract (r6 advice): the memo key includes a
    file-metadata fingerprint of the corpus scan
    (_corpus_fingerprint), so mutating the files behind the same
    cache_key retrains rather than serving centroids trained on the
    old data. The fingerprint is driver-side os.stat only — the warm
    path still runs zero Spark jobs.

    Aliasing contract (r7 advice): the key ALSO folds in a digest of
    the corpus's analyzed logical plan (_plan_digest), so two
    logically different corpora over the same files (different
    filters/projections) never share centroids. Under Spark Connect
    the plan digest is unavailable (None) and the memo is BYPASSED —
    training runs fresh, the same conservative rule as a missing
    file fingerprint, because a silent collision drops the wrong
    rows downstream (Connect callers wanting the memo can collect
    centroids once and rebuild the tiny relation themselves)."""
    return _trained_frames(
        corpus, cache_key, n_centroids, n_iter, id_col, vec_col
    )[0]


def _trained_frames(
    corpus: DataFrame,
    cache_key: str,
    n_centroids: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """kmeans_centroids_cached's (cid, cvec) relation and its one-row
    `_cs` relation, both LocalRelations built once per (memo key,
    session) from the memo's floats: a warm serve runs no job to
    build or broadcast its centroids."""
    cfg = (cache_key, n_centroids, n_iter, id_col, vec_col)
    fp = _corpus_fingerprint(corpus)
    pd_ = _plan_digest(corpus)
    v = _prep(corpus, id_col, vec_col)
    sess = corpus.sparkSession

    def frames(cents):
        return (
            local_frame(sess, cents, _CENTROID_SCHEMA),
            _local_centroid_row(sess, cents),
        )

    if fp is None or pd_ is None:
        # no observable corpus identity (in-memory source, or no JVM
        # plan surface under Connect): train fresh rather than risk
        # serving another corpus's centroids
        return frames(_lloyd(v, n_centroids, n_iter))
    key = (*cfg, fp, pd_)
    if key not in _TRAINED_CENTROID_CACHE:
        cents = _lloyd(v, n_centroids, n_iter)
        # evict superseded FILE fingerprints of the same (config,
        # plan) so a long-lived driver training per micro-batch over
        # a mutating table holds ONE entry per logical corpus, not
        # one per historical file set — but distinct logical corpora
        # (different plan digests) under the same cache_key keep
        # their own entries rather than thrashing each other
        for stale in [
            k
            for k in _TRAINED_CENTROID_CACHE
            if k[:5] == cfg and k[6] == key[6]
        ]:
            del _TRAINED_CENTROID_CACHE[stale]
            _TRAINED_CENTROID_DF_CACHE.pop(stale, None)
        _TRAINED_CENTROID_CACHE[key] = cents
    hit = _TRAINED_CENTROID_DF_CACHE.get(key)
    if hit is not None and hit[0] is sess:
        return hit[1]
    # sweep entries bound to OTHER sessions so a driver that cycles
    # sessions never pins a stopped session's object graph through
    # this module-level dict (r12 review finding); the float memo
    # above is session-independent and survives
    for k in [
        k for k, v in _TRAINED_CENTROID_DF_CACHE.items() if v[0] is not sess
    ]:
        del _TRAINED_CENTROID_DF_CACHE[k]
    hit = (sess, frames(_TRAINED_CENTROID_CACHE[key]))
    _TRAINED_CENTROID_DF_CACHE[key] = hit
    return hit[1]


def ivf_trained_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cache_key: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SHIPPING IVF configuration (r5 verdict ask #3): search
    against a Lloyd-trained coarse quantizer, with training memoized
    per corpus as an index-build step. Semantically identical to
    ivf_kmeans_topk (same training, same _ivf_search read path, same
    oracle); operationally it prices training as amortized index
    build rather than per-query work, which is what a bench of the
    serving path should measure. Trained recall@10 on seed-disjoint
    queries: 0.55 vs 0.40 seeded (tests/test_round5_ops.py)."""
    cs = _trained_frames(
        corpus, cache_key, n_centroids, n_iter, id_col, vec_col
    )[1]
    return _ivf_search(
        _prep(corpus, id_col, vec_col),
        cs,
        _prep(queries, id_col, vec_col),
        k,
        n_probe,
    )


def imi_train_halves(
    corpus: DataFrame,
    c_half: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train the inverted multi-index's TWO half-space quantizers
    (Babenko & Lempitsky 2012): spherical Lloyd on each 32-d half,
    same seeding/tie-break as every quantizer here. Returns
    (cent_a, cent_b) as (cid, cvec) LocalRelations — the INDEX-BUILD
    artifact; each use folds each into one `_cs` array
    (O((C₁+C₂)·d) floats).
    Extracted from imi_topk (r10) so the streaming admission twin
    trains once batch-side and serves the same centroids. `d` skips
    the dimension-probe job when the caller already knows it."""
    full = _prep(corpus, id_col, vec_col)
    if d is None:
        d = len(full.select("vec").first()["vec"])
    dh = d // 2
    va = full.select("vec_id", F.slice(F.col("vec"), 1, dh).alias("vec"))
    vb = full.select(
        "vec_id", F.slice(F.col("vec"), dh + 1, d - dh).alias("vec")
    )
    return (
        kmeans_centroids(va, c_half, n_iter, "vec_id", "vec"),
        kmeans_centroids(vb, c_half, n_iter, "vec_id", "vec"),
    )


def imi_cell_assignments(
    corpus: DataFrame,
    cent_a: DataFrame,
    cent_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """Two-level inverted lists: each vector keyed by its half-space
    assignment PAIR — returns (vec_id, vec, nrm, ca, cb). At 100 TB
    (ca, cb) is the write-time partition key; here both half argmaxes
    (the _nearest kernel over one `_cs` array per half) run in
    one projection over the corpus — no join back on vec_id, no
    exchange. The ONE copy of the cell-pair pipeline —
    imi_topk's index build and the streaming admission probe both
    call it, so their assignments cannot drift.

    Pass `d` when known (the streaming admission frame derives it
    once from the standing centroids): it skips the dimension-probe
    first() job per call AND makes empty inputs flow through as
    empty outputs — an empty micro-batch must not kill the stream
    (r10 review)."""
    full = _prep(corpus, id_col, vec_col)
    if d is None:
        row = full.select("vec").first()
        if row is None:
            raise ValueError(
                "imi_cell_assignments: empty corpus and no explicit "
                "d — pass d to support empty inputs"
            )
        d = len(row["vec"])
    dh = d // 2
    halves = full.select(
        "vec_id",
        "vec",
        l2_norm("vec").alias("nrm"),
        F.slice(F.col("vec"), 1, dh).alias("_va"),
        F.slice(F.col("vec"), dh + 1, d - dh).alias("_vb"),
    ).select("*", l2_norm("_va").alias("_na"), l2_norm("_vb").alias("_nb"))
    return (
        _with_centroids(_with_centroids(halves, cent_a, "_csa"), cent_b, "_csb")
        .select(
            "vec_id",
            "vec",
            "nrm",
            F.inline(
                F.array(
                    F.struct(
                        (-_nearest("_va", "_na", "_csa")["n"]).alias("ca"),
                        (-_nearest("_vb", "_nb", "_csb")["n"]).alias("cb"),
                    )
                )
            ),
        )
    )


def imi_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    c_half: int = 4,
    n_probe_half: int = 2,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted MULTI-index ANN (Babenko & Lempitsky 2012, "The
    Inverted Multi-Index") — the published two-level device the
    kmeans_centroids docstring points at for very large effective C:
    instead of one C-cell quantizer, train TWO independent quantizers
    on the two HALVES of the vector (C₁ = C₂ = `c_half` centroids
    each, spherical Lloyd, same seeding/tie-break as every quantizer
    here) and index each vector by the PAIR (ca, cb) of its half
    assignments. The effective cell grid is C₁·C₂ cells from only
    C₁+C₂ trained centroids — 10⁶ cells cost 2·10³ centroids,
    which is why the multi-index is how billion-vector IVF systems
    keep both the centroid state and the per-row argmax small (each half
    argmax is O(C_half) = O(√C_eff) work).

    Search probes the CARTESIAN grid of each query's `n_probe_half`
    best A-cells × best B-cells (probe set = n_probe_half² cells),
    then ranks exact full-vector cosine within the probed cells —
    the same candidate-scoped exact rerank every IVF read path here
    uses, with the same (cos desc, vec_id) tie-break and self-match
    exclusion.

    Scale shape: training moves O((C₁+C₂)·d) floats; both half
    assignments run in one map-side projection (the _nearest
    kernel, no exchange); at write time (ca, cb) is the
    natural two-level partition key — a probe then reads
    n_probe_half²/(C₁·C₂) of the data files, the multi-index analog
    of ivf_partitioned_layout's pruning. Output schema matches
    ivf_topk: (query_id, vec_id, cos_sim, rk).

    Training and cell assignment are the shared imi_train_halves /
    imi_cell_assignments (r10 extraction — the streaming admission
    twin reuses them with the trained centroids as the standing
    index artifact; one copy of the tie-break-sensitive pipeline)."""
    from pyspark.sql.window import Window

    full = _prep(corpus, id_col, vec_col)
    d = len(full.select("vec").first()["vec"])  # the one probe job
    cent_a, cent_b = imi_train_halves(
        corpus, c_half, n_iter, id_col, vec_col, d=d
    )
    lists = imi_cell_assignments(
        corpus, cent_a, cent_b, id_col, vec_col, d=d
    )

    dh = d // 2
    q = _prep(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        l2_norm("vec").alias("qnrm"),
        F.slice(F.col("vec"), 1, dh).alias("qa"),
        F.slice(F.col("vec"), dh + 1, d - dh).alias("qb"),
    ).select("*", l2_norm("qa").alias("qna"), l2_norm("qb").alias("qnb"))
    # the probe grid: each query's best A-cells, each crossed with its
    # best B-cells
    grid = _probes(q, cent_a, "qa", "qna", n_probe_half)
    grid = _probes(
        grid.withColumnRenamed("centroid", "ca"), cent_b, "qb", "qnb",
        n_probe_half,
    ).withColumnRenamed("centroid", "cb")
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return (
        F.broadcast(grid.select("query_id", "qvec", "qnrm", "ca", "cb"))
        .join(lists, ["ca", "cb"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot("qvec", "vec")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("_cos"),
        )
        .withColumn("rk", F.row_number().over(w_topk))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", F.round("_cos", 6).alias("cos_sim"), "rk"
        )
    )


def prototype_assignments(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Self-supervised PROTOTYPICALITY scores (Sorscher et al. 2022,
    'Beyond neural scaling laws'): train the spherical quantized-mean
    k-means (kmeans_centroids — the prototypes), assign every vector
    to its nearest prototype by cosine, and return
    (vec_id, cid, proto_cos) where proto_cos is the cosine to the
    assigned prototype — HIGH cosine = close to a cluster center =
    prototypical/easy, LOW = atypical/informative. The pruning
    policy on top (drop the easiest fraction when data is abundant)
    lives in plans/round9_queries.py::data_pruning_ssl_prototypes.

    Composition is the whole point: training is kmeans_centroids,
    assignment is _assign_nearest — the same (cos, -cid) max-struct
    tie-break every oracle mirrors — so this adds zero new numeric
    code paths. Scale shape: one array of C centroids, one
    map-side argmax per vector; no corpus self-join, no exchange, no
    global state."""
    c = _prep(corpus, id_col, vec_col)
    a = _assign_nearest(
        c,
        _local_centroid_row(
            corpus.sparkSession, _lloyd(c, n_centroids, n_iter)
        ),
    )
    return a.select(
        "vec_id",
        F.col("centroid").alias("cid"),
        F.col("_cent_cos").alias("proto_cos"),
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    n_centroids: int | None = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
    target_cluster_size: int = 128,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic deduplication (Abbas
    et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): embed → k-means cluster →
    compare pairs ONLY within a cluster → drop near-duplicates,
    keeping per near-dup group the example FARTHEST from its cluster
    centroid (the paper's keep-rule — low centroid similarity ≈ more
    informative for training).

    The paper's connected-components grouping is re-expressed as a
    keep-first sweep so no iterative algorithm is needed: rank each
    cluster's members by (centroid cosine asc, vec_id); a member is
    REMOVED iff some lower-ranked same-cluster member is within
    `threshold` cosine of it. This is order-equivalent to the
    published implementation (which also sweeps in centroid-distance
    order) and is pure joins + one window.

    Scale shape — the reason SemDeDup exists: candidate pairs are
    generated by an EQUI-join on the cluster id, so the comparison
    count is Σ|cluster|² instead of the O(N²) all-pairs join
    threshold_pairs runs. At 100 TB with C clusters of ~N/C vectors
    the work drops by a factor of C; the cluster id is also the
    natural write-time partition key (see ivf_partitioned_layout),
    making the pair join partition-local with zero extra shuffle.
    Training the quantizer moves only O(C·d) floats (kmeans_centroids
    keeps gradients KB-scale); both cosines are rounded to the 1e-6
    grid BEFORE the keep decision so the verdict is deterministic
    across engines.

    Returns (vec_id, cid, cent_cos, keep) for every corpus vector.
    The plan persists an internal ranked relation (it feeds three
    subtrees); the returned DataFrame exposes the handle as
    `_ranked_cache` — long-lived drivers deduping many distinct
    corpora should `out._ranked_cache.unpersist()` after
    materializing, since cache ENTRIES are never auto-evicted.

    `cache_key` (same contract as ivf_trained_topk): when given, the
    quantizer training is memoized per corpus via
    kmeans_centroids_cached — the correct accounting, since the
    clustering is an INDEX-BUILD artifact amortized over every dedup
    run against the same corpus (measured at the local sf1 decade:
    training dominates at ~115 s while the cluster-scoped pair join
    itself is ~0.5 s; with the memo, repeat runs pay only the join).
    Cold/warm results are bit-identical, so oracles are unaffected.

    `n_centroids=None` derives C from the corpus:
    `max(16, ceil(n / target_cluster_size))` — the published C ∝ N
    practice, so the quadratic Σ|cluster|² pair work stays bounded
    per cluster as the corpus grows instead of one fixed C absorbing
    the whole growth. The measured sf1 C-sweep behind the default
    (SCALE.md "What remains at C=16"): C=16 → 60.4 s, C=64 → 9.5 s,
    C=160 → 10.2 s — past C ≈ N/target the corpus scan dominates, so
    the derived value sits at the sweep's flat floor. Sizing costs
    one count() pass; the oracle-gated registry queries keep an
    EXPLICIT C because the DuckDB oracle re-derives Lloyd training
    at the same C. The centroids ride as data in one array value,
    not as plan expressions, so the plan does not grow with C; the
    work does — each vector folds over all C centroids (see
    kmeans_centroids for figures at C = N/16).
    """
    from pyspark.sql.window import Window

    c = _prep(corpus, id_col, vec_col)
    if n_centroids is None:
        n = c.count()
        # ceiling division: mean cluster size n/C ≤ target holds
        # exactly (floor would let it creep just past the target)
        n_centroids = max(16, -(-n // target_cluster_size))
    if cache_key is not None:
        cent = _trained_frames(
            corpus, cache_key, n_centroids, n_iter, id_col, vec_col
        )[1]
    else:
        cent = _local_centroid_row(
            corpus.sparkSession, _lloyd(c, n_centroids, n_iter)
        )
    # nearest centroid + its cosine per vector — the shared
    # _assign_nearest encoding (one copy of the tie-break-sensitive
    # argmax that the oracle mirrors)
    assigned = _assign_nearest(c, cent).select(
        "vec_id",
        "vec",
        # per-vector L2 norm (hoisted once in _assign_nearest) rides
        # into the quadratic pair join: dot(a,b)/(nrm_a*nrm_b) is the
        # bitwise-same double as cosine(a,b) — the pair filter does
        # one interpreted HOF fold per pair instead of three
        "nrm",
        F.col("centroid").alias("cid"),
        F.round(F.col("_cent_cos"), 6).alias("cent_cos"),
    )
    w = Window.partitionBy("cid").orderBy(
        F.col("cent_cos").asc(), F.col("vec_id")
    )
    # the ranked relation feeds three subtrees (both sides of the
    # pair join share its cid-exchange, but the final keep-verdict
    # join re-shuffles on vec_id and would recompute the whole
    # map-side argmax assignment). Persisting computes the
    # assignment once — measured 2.14 s → 1.36 s at sf0.1/local[32],
    # identical output. Lifetime (r8 advice — the earlier "until LRU
    # eviction" claim was WRONG: Spark's CacheManager never evicts
    # cache ENTRIES, only memory blocks spill/evict to disk, so each
    # distinct corpus deduped by a long-lived driver would pin one
    # entry forever): repeat calls on the same corpus reuse the one
    # entry (CacheManager dedupes by canonicalized plan), and the
    # caller OWNS release — the returned plan carries the handle as
    # `_ranked_cache`, mirroring semantic_admission_pruned's
    # `_admission_cache` contract: materialize the result, then
    # `out._ranked_cache.unpersist()`. Short-lived gate/bench
    # processes may skip it; at 100 TB the cluster-partitioned
    # write-time layout (write_ivf_layout + semantic_admission_pruned)
    # replaces this cache entirely.
    from pyspark import StorageLevel

    ranked = assigned.withColumn("rk", F.row_number().over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    removed = (
        a.join(b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.rk") > F.col("b.rk")))
        .filter(
            F.round(
                dot("a.vec", "b.vec")
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    out = (
        ranked.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "cent_cos",
            F.when(F.col("_rm").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
        .orderBy("vec_id")
    )
    # caller owns the persisted ranked relation's lifetime (comment
    # above): unpersist via this handle after materializing
    out._ranked_cache = ranked
    return out


def semantic_admission_pruned(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eager: bool = False,
) -> DataFrame:
    """Incremental SemDeDup admission against the cluster-partitioned
    physical layout — the 100 TB form of semantic dedup: the standing
    corpus lives in a write_ivf_layout table (assignment paid ONCE at
    write time), and a small incoming batch is admitted by comparing
    each new vector ONLY against the stored members of its own
    cluster. The stored-corpus scan carries `centroid IN (touched)`
    — a PARTITION filter over the ≤C cluster ids the batch actually
    maps to — so Spark lists and reads touched/C of the data files;
    everything else is never opened. Candidate work is
    Σ|touched cluster| per batch, not O(corpus), and the join is an
    equi-join on the cluster id.

    Returns per incoming vector: (vec_id, cid, n_cluster_candidates,
    n_near_dups, admit) — admit=1 iff no stored same-cluster vector
    is within `threshold` rounded cosine. All outputs are integers;
    the only float comparison is grid-rounded before the decision
    (DETERMINISM.md §4).

    Cache-lifetime contract (r7 advice; default flipped r9 per r8
    advice): the assigned incoming batch is persisted because three
    consumers reuse it. The DEFAULT is lazy (eager=False): the
    fully-distributed plan is returned and ownership of the cached
    batch transfers to the caller — materialize once, then unpersist
    via the plan's `_admission_cache` attribute. Lazy-by-default is
    what keeps the registered gate query's plan inspectable
    (test_plan_quality's NLJ/partition-filter guards see the real
    executed plan, not a collected LocalRelation — the r8 advice
    finding). A per-micro-batch admission LOOP should opt into
    eager=True: the verdict is collected before returning (cache
    released in a finally, so a failed batch can't leak), and the
    loop holds ZERO cached DataFrames between calls — the
    bounded-state story the streaming docs claim. That collect is
    safe BY CONTRACT, not by luck: this operator admits a
    per-micro-batch INCOMING SLICE (five ints per incoming vector),
    never the corpus."""
    from pyspark import StorageLevel

    cent = spark.read.parquet(path + "/_centroids")
    # persist the assigned batch: it is consumed three times (the
    # touched-cluster collect, the scored-join build side, and the
    # final left join) — without the cache each consumer would
    # re-scan the incoming source and re-run the argmax
    q = (
        _assign_nearest(_prep(incoming, id_col, vec_col), cent)
        .select(
            "vec_id",
            "vec",
            "nrm",
            F.col("centroid").cast("long").alias("cid"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    touched = sorted(
        int(r["cid"]) for r in q.select("cid").distinct().collect()
    )  # bounded by C=16, the same device ivf_partitioned_topk uses
    stored_raw = spark.read.parquet(path).filter(
        F.col("centroid").isin(touched)
    )
    if "nrm" not in stored_raw.columns:  # pre-nrm layout: derive
        stored_raw = stored_raw.withColumn("nrm", l2_norm("vec"))
    stored = stored_raw.select(
        F.col("vec_id").alias("s_vec_id"),
        F.col("vec").alias("s_vec"),
        # the layout stores each vector's norm next to it (the
        # classic ANN-index move) — no recompute per candidate
        F.col("nrm").alias("s_nrm"),
        F.col("centroid").cast("long").alias("cid"),
    )
    scored = (
        F.broadcast(q)
        .join(stored, "cid")
        .groupBy("vec_id", "cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cluster_candidates"),
            F.sum(
                F.when(
                    F.round(
                        dot("vec", "s_vec")
                        / (F.col("nrm") * F.col("s_nrm")),
                        6,
                    )
                    >= F.lit(threshold),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_near_dups"),
        )
    )
    out = (
        q.select("vec_id", "cid")
        .join(scored, ["vec_id", "cid"], "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce("n_cluster_candidates", F.lit(0))
            .cast("long")
            .alias("n_cluster_candidates"),
            F.coalesce("n_near_dups", F.lit(0))
            .cast("long")
            .alias("n_near_dups"),
            F.when(F.coalesce("n_near_dups", F.lit(0)) == 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("admit"),
        )
        .orderBy("vec_id")
    )
    if not eager:
        # caller owns the cached batch's lifetime (documented above)
        out._admission_cache = q
        return out
    try:
        rows = out.collect()
    finally:
        # release the batch even when collect fails (executor loss,
        # corrupt layout) — otherwise each failed micro-batch leaks
        # one MEMORY_AND_DISK entry for the driver lifetime
        q.unpersist()
    return local_frame(spark, rows, out.schema)


def quantize_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-dimension
    global min/max → 0..255 codes, plus per-vector total absolute
    reconstruction error. The 4×-smaller codes column is what a
    100 TB vector lake stores hot; fp32/fp64 originals go cold.

    Plan: posexplode → per-dim min/max (a 64-row aggregate —
    broadcast back) → code arithmetic → regroup to arrays. Two
    shuffles total, both tiny after map-side partials."""
    v = _prep(corpus, id_col, vec_col)
    dims = v.select(
        "vec_id", F.posexplode("vec").alias("dim0", "x")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "x")
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    rng = F.col("mx") - F.col("mn")
    coded = dims.join(F.broadcast(stats), "dim").withColumn(
        "code", F.round((F.col("x") - F.col("mn")) / rng * 255).cast("int")
    )
    dequant = F.col("mn") + F.col("code") * rng / F.lit(255.0)
    return coded.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "code"))),
            lambda s: s["code"],
        ).alias("codes"),
        F.round(F.sum(F.abs(F.col("x") - dequant)), 6).alias("abs_err"),
    )


def norm_stats_by_label(
    corpus: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label L2-norm profile (embedding-space sanity check)."""
    v = corpus.select(
        F.col(label_col).alias("label"), as_double(vec_col).alias("x")
    ).select("label", F.round(l2_norm("x"), 6).alias("norm"))
    return (
        v.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            # rounded total, not a rounded average — division after
            # rounding creates exact x.xxxx5 ties where Spark's
            # shortest-decimal HALF_UP and raw-binary rounding in
            # other engines disagree (see events_sliding_window_rates)
            F.round(F.sum("norm"), 2).alias("total_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


def write_ivf_layout(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    trained: bool = False,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF physical layout the ivf_topk docstring
    promises at scale: every vector is written under its inverted
    list's partition directory (`centroid=<cid>/`), and the centroid
    table itself is stored beside the data (`_centroids/`,
    underscore-hidden from plain reads). A probe query then READS
    ONLY n_probe of n_centroids directories — partition pruning does
    the skipping, no index server required. `trained=True` uses the
    spherical k-means quantizer, else the first-C-by-id seed.

    Each row is stored WITH its L2 norm (`nrm`, computed once by
    _assign_nearest) — the classic ANN-index layout move, so serving
    paths compute dot/(qnrm·nrm) per candidate instead of a full
    cosine (bitwise-identical result, one HOF fold instead of
    three)."""
    c = _prep(corpus, id_col, vec_col)
    if trained:
        cent = local_frame(
            corpus.sparkSession,
            _lloyd(c, n_centroids, n_iter),
            _CENTROID_SCHEMA,
        )
    else:
        cent = c.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
        )
    assigned = _assign_nearest(c, cent).drop("_cent_cos")
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)
    # centroid norms are build artifacts too — stored once so serving
    # paths never recompute them
    cent.withColumn("cnrm", l2_norm("cvec")).write.mode(
        "overwrite"
    ).parquet(path + "/_centroids")


def ivf_partitioned_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a write_ivf_layout table, reading ONLY the probed
    partition directories: probes resolve against the stored
    centroid table (broadcast-small), and the corpus scan carries
    `centroid IN (probed)` — a PARTITION filter, so Spark lists and
    reads n_probe/n_centroids of the data files
    (tests/test_ext_operators.py asserts the PartitionFilters line
    and the pruned input size). This is the piece that turns the
    IVF math into an at-scale I/O win: the candidate restriction
    happens at the STORAGE layer, not after a full scan."""
    from pyspark.sql.window import Window

    cent_raw = spark.read.parquet(path + "/_centroids")
    if "cnrm" not in cent_raw.columns:  # pre-cnrm layout: derive
        cent_raw = cent_raw.withColumn("cnrm", l2_norm("cvec"))
    q = _prep(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        l2_norm("vec").alias("qnrm"),
    )
    probes = _probes(q, cent_raw, "qvec", "qnrm", n_probe)
    probed_cids = [
        int(r["centroid"])
        for r in probes.select("centroid").distinct().collect()
    ]
    lists = spark.read.parquet(path).filter(
        F.col("centroid").isin(probed_cids)
    )
    if "nrm" not in lists.columns:  # pre-nrm layout: derive
        lists = lists.withColumn("nrm", l2_norm("vec"))
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return (
        F.broadcast(probes)
        .join(lists, "centroid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            # stored `nrm` from the layout + hoisted query norm:
            # bitwise-identical to cosine(qvec, vec)
            (
                dot("qvec", "vec")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("_cos"),
        )
        .withColumn("rk", F.row_number().over(w_topk))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "vec_id", F.round("_cos", 6).alias("cos_sim"), "rk"
        )
    )
