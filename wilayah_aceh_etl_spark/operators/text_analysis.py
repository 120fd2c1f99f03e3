"""Corpus-level text statistics operators (TF-IDF and friends).

Pure Catalyst compositions — the classic HashingTF/IDF MLlib route
hashes terms into a fixed space (collisions, not oracle-able); this
exact-term formulation is deterministic, hash-checkable against SQL,
and at scale is the same two-aggregation shape (term-frequency
shuffle + document-frequency shuffle, both with map-side partials).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf) — one shuffle on (doc, term)."""
    from wilayah_aceh_etl_spark.sources.tables import spread

    return (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    tf · (ln((N+1)/(df+1)) + 1)  — the sklearn-style smooth idf.

    Plan: tf aggregation, df aggregation (both partial/map-side
    combining), broadcast of the scalar N, equi-join tf⋈df on term,
    ranking window per doc. The df table is |vocabulary| rows — at
    100 TB vocabulary ≪ corpus, so the term join broadcasts or
    shuffles cheaply; nothing touches raw text twice."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    tf = term_frequencies(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = df.count()  # scalar, computed once on the driver
    idf = F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "tfidf")
    )


def gopher_rule_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document 0/1 flags for the Gopher quality rules (Rae et
    al. 2021, table A1): word-count bounds [50, 100000], mean word
    length in [3, 10], >=80% alphabetic words, >=2 of the paper's
    eight stopwords {the, be, to, of, and, that, have, with}, top
    word <=20% of tokens. Every ratio threshold is CROSS-MULTIPLIED
    into integer form (3*wc <= chars, never chars/wc >= 3.0) so no
    float exists anywhere. Shared by the batch battery
    (text_gopher_quality_rules) and the streaming corpus-quality
    monitor, which is what keeps their verdicts definitionally
    identical.

    Scale: per-doc flags are scan-local except the top-word rule,
    one (doc, word) map-side-combinable aggregation."""
    w = F.split(text_col, " ")
    per_doc = df.select(
        "doc_id",
        F.size(w).alias("wc"),
        (F.length(text_col) - F.size(w) + 1).alias("chars"),
        F.expr(
            f"size(filter(split({text_col}, ' '), x -> x rlike '^[a-z]+$'))"
            " AS alpha_wc"
        ),
        F.expr(
            f"size(filter(split({text_col}, ' '), x -> x IN ('the', 'be',"
            " 'to', 'of', 'and', 'that', 'have', 'with'))) AS stop_wc"
        ),
    )
    top_word = (
        df.select("doc_id", F.explode(w).alias("u"))
        .groupBy("doc_id", "u")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return per_doc.join(top_word, "doc_id").select(
        "doc_id",
        F.when(F.col("wc").between(50, 100000), 1).otherwise(0).alias("r_wc"),
        F.when(
            (3 * F.col("wc") <= F.col("chars"))
            & (F.col("chars") <= 10 * F.col("wc")),
            1,
        )
        .otherwise(0)
        .alias("r_mwl"),
        F.when(5 * F.col("alpha_wc") >= 4 * F.col("wc"), 1)
        .otherwise(0)
        .alias("r_alpha"),
        F.when(F.col("stop_wc") >= 2, 1).otherwise(0).alias("r_stop"),
        F.when(5 * F.col("top_cnt") <= F.col("wc"), 1)
        .otherwise(0)
        .alias("r_rep"),
    )


def dsir_document_scores(
    df: DataFrame,
    target: "F.Column",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR importance scores (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling").

    `target` is a boolean Column marking the target-domain rows of
    `df` (e.g. a trusted source). Features are word unigrams hashed
    into `n_buckets` via the repo's engine-portable md5 device
    (functions/text.py::hex4_to_int). Each feature's importance
    weight is the add-one-smoothed log-likelihood ratio

        lam_f = ln( ((t_f+1)/(T+B)) / ((r_f+1)/(R+B)) )

    quantized to integer MICRO-NATS the moment it is computed
    (DETERMINISM.md: the single ln is the only libm call; all later
    arithmetic is exact integer / IEEE-exact division). Returns
    (doc_id, dsir_score, n_tokens, dsir_rate): `dsir_score` is the
    exact integer sum of token weights; `dsir_rate` is the
    length-normalized score in micro-nats per kilo-token — the
    ranking to select on, since the raw sum rewards short documents
    when the smoothed per-token weights skew negative.

    Scale shape: ONE corpus pass (explode → map-side-combined
    per-(doc, bucket) counts, persisted — ≤B rows/doc, far smaller
    than the token stream); the B-row distribution + lam relations
    are broadcast; the scoring join is an equi-join on the bucket.
    No driver-side data, no all-pairs. The persisted counts follow
    the same cache-lifetime contract as the tfidf/minhash relations
    above: MEMORY_AND_DISK, context-scoped, no eager unpersist
    (the returned plan still references it).
    """
    from pyspark import StorageLevel

    from wilayah_aceh_etl_spark.functions.text import hex4_to_int
    from wilayah_aceh_etl_spark.sources.tables import spread

    bf = float(n_buckets)
    b = (
        spread(
            df.select(
                F.col(id_col).alias("doc_id"),
                target.alias("is_target"),
                F.col(text_col),
            )
        )
        .select(
            "doc_id",
            "is_target",
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select(
            "doc_id",
            "is_target",
            (hex4_to_int(F.md5(F.col("tok"))) % n_buckets)
            .cast("bigint")
            .alias("f"),
        )
    )
    # single corpus pass: per-(doc, bucket) counts feed BOTH the
    # feature distributions and the per-doc scores (is_target rides
    # along — constant per doc, so cardinality is unchanged)
    dt = (
        b.groupBy("doc_id", "is_target", "f")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dist = dt.groupBy("f").agg(
        F.sum("c").alias("r"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias(
            "t"
        ),
    )
    # totals as UNBOUNDED-window sums over the B-row dist relation
    # (r12 optimization round): Σ over dist of the per-f bigint sums
    # is the same exact integer the oracle's `tot` CTE derives, but
    # expressed as a window it removes BOTH the second corpus-count
    # scan per run (tot no longer re-aggregates dt) AND the
    # cross-join broadcast (guide §2.4 — shared subtree). The global
    # window moves all of dist to one partition, which is safe by
    # construction: dist is exactly B = n_buckets rows (256), a
    # constant independent of corpus size.
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    big_r = F.sum("r").over(wall).cast("bigint")
    big_t = F.sum("t").over(wall).cast("bigint")
    # operation order mirrors the SQL oracle VERBATIM: two IEEE-exact
    # divisions, one quotient, one ln, round to micro-nats
    tgt_frac = (F.col("t").cast("double") + F.lit(1.0)) / (
        big_t.cast("double") + F.lit(bf)
    )
    raw_frac = (F.col("r").cast("double") + F.lit(1.0)) / (
        big_r.cast("double") + F.lit(bf)
    )
    lam = dist.select(
        "f",
        F.round(F.lit(1000000.0) * F.log(tgt_frac / raw_frac), 0)
        .cast("bigint")
        .alias("lam"),
    )
    scored = (
        dt.join(F.broadcast(lam), "f")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lam")).cast("bigint").alias("dsir_score"),
            F.sum("c").cast("bigint").alias("n_tokens"),
        )
    )
    out = scored.select(
        "doc_id",
        "dsir_score",
        "n_tokens",
        F.round(
            (F.lit(1000.0) * F.col("dsir_score").cast("double"))
            / F.col("n_tokens").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("dsir_rate"),
    )
    # Cache-lifetime contract (r12 verdict ask #5, mirroring
    # semantic_dedup._ranked_cache): the persisted per-(doc, bucket)
    # counts are corpus-sized (≤B rows/doc) and CacheManager never
    # evicts entries; the caller owns release — materialize, then
    # `out._counts_cache.unpersist()`. Short-lived gate/bench
    # processes may skip it.
    out._counts_cache = dt
    return out
