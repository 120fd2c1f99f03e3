"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious:

  exact        — hash-groupBy on md5(text): one shuffle on a short key.
  fingerprint  — md5 of sorted distinct tokens: catches reordered copies.
  minhash+LSH  — shingle → k-minhash → banded buckets → candidate
                 pairs → exact-Jaccard verify. The only all-pairs-free
                 near-dup path that scales: pairs form inside band-
                 hash buckets (tiny), never across all documents.
  simhash      — 16-bit majority fingerprint; hamming-≤r pairs.
  ngram-jaccard— exact Jaccard via shingle equi-join (ground truth /
                 verifier for the approximate paths).

Every step is built-in Catalyst expressions (no UDFs); the hash
family is md5-based so the DuckDB oracles compute the identical
signatures (plans/ext_queries.py).

At 100 TB: the near-dup pipeline (verified_near_dup_pairs) keeps
one distinct-shingle ARRAY per document, built map-side and
persisted once; signatures are per-row array_min expressions over
it, so the only corpus-wide shuffle groups (doc, band, 32-char
hash) rows into buckets, and the verify joins just the candidate
pairs back to their arrays (array_intersect, no explode). Bucket
keys are md5 strings with near-uniform distribution — no skew
salting needed; AQE handles stragglers. The exploded
(doc, shingle) relation stays for the exact all-pairs ground truth
and the incremental filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.functions.text import (
    doc_fingerprint,
    hex4_to_int,
    minhash_component,
    word_shingles,
)

DEFAULT_K = 8  # minhash signature length
DEFAULT_BANDS = 4  # LSH bands (rows per band = K / BANDS)


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplication profile in one pass."""
    h = F.md5(F.col(text_col))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_exact_dups"),
    )


def keep_first_exact(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup keeping the lowest id per text hash (one shuffle
    on the 32-char hash, not the document body)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def distinct_shingles(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc, shingle) pairs, distinct — the base relation for both
    minhash and exact-Jaccard. `spread` keeps the explode parallel
    even when the input scan is a single small file."""
    from wilayah_aceh_etl_spark.sources.tables import spread

    return (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select(F.col("doc_id"), word_shingles(text_col, n).alias("sh"))
        .select("doc_id", F.explode("sh").alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, k: int = DEFAULT_K
) -> DataFrame:
    """k lexicographic-min md5 signatures per doc from the exploded
    (doc, shingle) relation. Partial aggregation makes this one
    shuffle carrying k×32 chars per doc."""
    aggs = [
        F.min(minhash_component(F.col("shingle"), s)).alias(f"mh{s}")
        for s in range(k)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def _mh_comp(seed: int) -> "Column":
    """array_min(transform(_sh, md5(seed#·))) AS mh<seed> — the
    per-row form of minhash_component's min aggregate."""
    return F.expr(
        f"array_min(transform(_sh, s -> md5(concat('{seed}#', s))))"
        f" AS mh{seed}"
    )


def shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, _sh): each document's DISTINCT shingle array, one row
    per document of at least `n` words — the per-row twin of
    distinct_shingles (array_distinct needs no shuffle). The size
    filter reads the split, not `_sh`: the optimizer pushes a filter
    below the projection, so `size(_sh) > 0` would evaluate the
    whole shingle expression twice."""
    from wilayah_aceh_etl_spark.sources.tables import spread

    return (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .filter(F.expr(f"size(split({text_col}, ' ')) >= {n}"))
        .select(
            "doc_id",
            F.array_distinct(word_shingles(text_col, n)).alias("_sh"),
        )
    )


def minhash_signatures_from_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Same signatures with ZERO shuffles: each component is
    array_min(transform(_sh, ...)) over shingle_arrays — a per-row
    expression, so signature computation is map-side only and
    parallelizes with input splits. Identical output to
    minhash_signatures∘distinct_shingles (docs with no shingles are
    dropped there by the explode, here by the word-count filter)."""
    comps = [_mh_comp(seed) for seed in range(k)]
    return shingle_arrays(df, id_col, text_col, n).select("doc_id", *comps)


def lsh_band_hashes(
    sigs: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """Fold each band's rows into one hash → (doc_id, band_id,
    band_hash) long-form, the join key for candidate generation."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        parts = ", ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_cols.append(
            f"struct({b} AS band_id, md5(concat({parts})) AS band_hash)"
        )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({', '.join(band_cols)})) AS band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Docs sharing any band bucket: each (band_id, band_hash) bucket
    collects its doc ids and pairs them inside the bucket (doc_a <
    doc_b), then pairs found in several bands collapse. Bucket sizes
    are tiny for non-duplicates, so the output is ~O(duplicate
    pairs), not O(n²). Unlike a self-join on the bucket key, the
    band relation — and the signatures under it — is computed and
    shuffled once."""
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.expr(
                "explode(flatten(transform(ids, a -> transform("
                "filter(ids, b -> a < b), "
                "b -> named_struct('doc_a', a, 'doc_b', b))))) AS p"
            )
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame, min_shared: int = 1
) -> DataFrame:
    """Exact Jaccard for every doc pair sharing ≥min_shared shingles.
    The equi-join on shingle keeps this far below all-pairs; used
    directly as ground-truth dedup and as the verifier after LSH."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def jaccard_for_pairs(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact Jaccard computed ONLY for the given (doc_a, doc_b) pairs
    over the exploded (doc_id, shingle) relation; pairs sharing no
    shingle are absent.

    The pair set is tiny (≈ O(true duplicates)), so Catalyst
    broadcasts it into the shingle scan and the intersection count
    touches only shingles of candidate docs — never the
    all-co-shingle-pairs blowup that `jaccard_pairs` materializes
    (1.1M pairs vs 640 candidates at sf0.1). The denominator sizes
    are candidates-only as well: the shingle relation is semi-joined
    to the pair docs (broadcast) before the count aggregation, so no
    corpus-wide aggregation survives in the verify stage."""
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    scoped = shingles.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    sizes = scoped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def jaccard_for_pair_arrays(pairs: DataFrame, arrays: DataFrame) -> DataFrame:
    """jaccard_for_pairs over shingle_arrays: each pair joins its two
    (doc_id, _sh) rows and the counts are sizes of those arrays —
    `size(array_intersect(sa, sb))` over `size(sa) + size(sb)` — so
    no explode, no shuffle of shingles and no count aggregation. The
    same `round(…, 4)` of the same integers; a pair sharing no
    shingle reads 0.0 here where jaccard_for_pairs drops it."""
    sa = arrays.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sa"))
    sb = arrays.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sb"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a",
        "doc_b",
        F.expr(
            "round(size(array_intersect(sa, sb)) / (size(sa) + size(sb)"
            " - size(array_intersect(sa, sb))), 4) AS jaccard"
        ),
    )


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates from banded
    minhash, verified with exact Jaccard ≥ threshold — the Jaccard is
    computed only for candidate pairs (a pair with zero shared
    shingles can never reach a positive threshold, so restricting to
    LSH candidates loses nothing).

    Every step reads ONE persisted relation, each document's
    distinct-shingle array (shingle_arrays): the signatures are
    map-side `array_min(transform(...))` per-row expressions (a
    `min(string)×k` aggregation could only run as
    Sort+SortAggregate), and the verify joins the candidate pairs to
    both documents' arrays and counts with array_intersect
    (jaccard_for_pair_arrays) — no explode, no count aggregation.
    Three subtrees consume the array (signatures, both verify sides),
    so at 100 TB the corpus is still read and shingled ONCE, and the
    cache holds one array row per doc instead of ~|shingles| exploded
    rows. The candidate pairs feed the verify once and are not
    cached. The exploded pipeline (distinct_shingles,
    minhash_signatures, jaccard_for_pairs) stays as the reference
    the tests compare against."""
    from pyspark import StorageLevel

    sh_arr = shingle_arrays(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = sh_arr.select("doc_id", *[_mh_comp(seed) for seed in range(k)])
    cands = lsh_candidate_pairs(lsh_band_hashes(sigs, k, bands))
    out = (
        jaccard_for_pair_arrays(cands, sh_arr)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # Cache-lifetime contract (mirroring semantic_dedup._ranked_cache):
    # the persisted shingle-array relation is CORPUS-SIZED and feeds
    # three subtrees (signatures, both verify sides). Spark's
    # CacheManager never evicts entries, so a long-lived driver
    # deduping many distinct corpora would pin one MEMORY_AND_DISK
    # relation per corpus forever. The caller owns release:
    # materialize the result, then `out._shingle_cache.unpersist()`.
    # The handle is a plain attribute of `out` — a DataFrame derived
    # from `out` does not carry it. Short-lived gate/bench processes
    # may skip the release.
    out._shingle_cache = sh_arr
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster the near-dup pair graph: every doc gets
    cluster_id = min(doc_id reachable from it). This is the step that
    turns pairwise similarity into actual corpus dedup (keep one
    canonical doc per cluster).

    Min-label propagation: each round every node takes the min of its
    own and its neighbors' labels — one shuffle per round, converges
    in O(graph diameter) rounds (near-dup clusters are shallow; 25
    covers any realistic chain). localCheckpoint truncates lineage so
    round N's plan doesn't replay rounds 1..N-1 — the standard Spark
    iterative-algorithm pattern. The driver-side loop only checks a
    scalar convergence count; all data movement is distributed."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .union(
            pairs.select(F.col(a_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .union(
            pairs.select(F.col(b_col).alias("src"), F.col(b_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.groupBy("src").agg(F.min("src").alias("label"))
    for _ in range(max_iterations):
        e = edges.alias("e")
        lbl = labels.alias("lbl")
        propagated = (
            e.join(lbl, F.col("e.dst") == F.col("lbl.src"))
            .groupBy(F.col("e.src").alias("src"))
            .agg(F.min("lbl.label").alias("new_label"))
        )
        joined = labels.join(propagated, "src").localCheckpoint(eager=True)
        n_changed = joined.filter(
            F.col("new_label") != F.col("label")
        ).count()
        labels = joined.select("src", F.col("new_label").alias("label"))
        if n_changed == 0:
            break
    return labels.select(
        F.col("src").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Canonical-token-set fingerprint per doc."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        doc_fingerprint(F.col(text_col)).alias("fingerprint"),
    )


def _simhash_bits(n_bits: int) -> list[int]:
    return list(range(n_bits))


def simhash16(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct tokens: per bit, majority vote of
    (±1) contributions derived from each token's md5-prefix integer.
    Pure expressions: explode → conditional sums → bit pack; one
    shuffle on doc_id."""
    from wilayah_aceh_etl_spark.sources.tables import spread

    toks = spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).withColumn("h4", hex4_to_int(F.md5(F.col("tok"))))

    bit_aggs = [
        F.sum(
            F.when((F.floor(F.col("h4") / (2**j)) % 2) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in _simhash_bits(16)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_aggs)
    fp = None
    for j in _simhash_bits(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    fps: DataFrame, max_hamming: int = 3, n_bits: int = 16
) -> DataFrame:
    """Pairs within hamming radius, WITHOUT the all-pairs join.

    Pigeonhole banding: split the fingerprint into max_hamming+1
    equal-ish chunks — a pair with ≤max_hamming differing bits must
    agree EXACTLY on at least one chunk. Equi-join on (chunk_idx,
    chunk_value), dedup candidates, then the exact hamming filter.
    Identical output to the naive O(n²) comparison, but the join is
    hash-partitioned on chunk values — the same candidates-only
    shape as MinHash LSH, and the plan has no nested-loop join."""
    n_chunks = max_hamming + 1
    width = -(-n_bits // n_chunks)  # ceil
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                (F.floor(F.col("simhash") / (2 ** (i * width))).cast("long")
                 % (2**width)).alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    banded = fps.select(
        "doc_id", "simhash", F.explode(chunks).alias("c")
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk_val")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def incremental_near_dup_filter(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Incremental corpus growth: admit each incoming document only if
    it is neither an exact copy nor a near-dup (Jaccard ≥ threshold)
    of the EXISTING corpus. The production shape — a corpus is built
    batch by batch, and each batch dedups against what is already
    admitted, not against itself.

    Returns (doc_id, is_exact_dup, near_dup_of, kept): near_dup_of is
    the smallest existing doc id whose verified Jaccard clears the
    threshold (null when none), kept = not exact and no near-dup.

    Scale shape: the existing side's signatures/bands are a stored
    index in production — here both sides derive them the same way.
    Candidates come from an incoming⋈existing band-bucket equi-join
    (never incoming×existing); exact Jaccard runs only on candidates.
    Exact-dup probing joins on md5(text), a 32-char key, so document
    bodies never shuffle."""
    inc_sh = distinct_shingles(incoming, id_col, text_col, n)
    ex_sh = distinct_shingles(existing, id_col, text_col, n)

    inc_bands = lsh_band_hashes(minhash_signatures(inc_sh, k), k, bands)
    ex_bands = lsh_band_hashes(minhash_signatures(ex_sh, k), k, bands)
    cands = (
        inc_bands.alias("i")
        .join(
            ex_bands.alias("e"),
            (F.col("i.band_id") == F.col("e.band_id"))
            & (F.col("i.band_hash") == F.col("e.band_hash")),
        )
        .select(
            F.col("i.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify candidates with exact Jaccard over the union shingle set
    # (jaccard_for_pairs is side-agnostic: doc_a = incoming, doc_b = existing)
    verified = (
        jaccard_for_pairs(cands, inc_sh.unionByName(ex_sh))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc_a")
        .agg(F.min("doc_b").alias("near_dup_of"))
    )

    ex_hashes = existing.select(
        F.md5(F.col(text_col)).alias("_h")
    ).distinct()
    inc = incoming.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_h")
    )
    exact = (
        inc.join(ex_hashes.withColumn("_dup", F.lit(True)), "_h", "left")
        .select("doc_id", F.coalesce("_dup", F.lit(False)).alias("is_exact_dup"))
    )
    return (
        exact.join(verified, exact.doc_id == verified.doc_a, "left")
        .select(
            "doc_id",
            "is_exact_dup",
            "near_dup_of",
            (
                (~F.col("is_exact_dup")) & F.col("near_dup_of").isNull()
            ).alias("kept"),
        )
    )


def segment_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Line/paragraph-level exact dedup across the corpus — the
    CCNet/RefinedWeb shape: hash each segment, keep only the FIRST
    corpus-wide occurrence (order = (doc_id, seg_idx)), report the
    per-document retained fraction. The corpus here carries no
    newlines, so 'lines' are fixed windows of `seg_tokens` whitespace
    tokens — the segmentation function is the pluggable part, the
    dedup topology is the point.

    Scale: segments shuffle as (md5, doc_id, seg_idx) triples — the
    segment TEXT never leaves the map side. One shuffle, partitioned
    by segment hash (md5-uniform, no skew); the keep-first rule is a
    row_number window on that same partitioning, so no second
    exchange; the per-doc rollup shuffles one row per document.
    Cleaned-text reconstruction (not emitted here) joins the kept
    (doc_id, seg_idx) set back to a fresh map-side segmentation —
    bodies still never shuffle."""
    from pyspark.sql.window import Window

    segs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(
                f"transform(array(split({text_col}, ' ')), w -> transform("
                f"  sequence(0, CAST((size(w) - 1) / {seg_tokens} AS INT)),"
                f"  i -> array_join(slice(w, i * {seg_tokens} + 1, {seg_tokens}),"
                "                   ' ')))[0]"
            )
        ).alias("seg_idx", "seg"),
    ).select("doc_id", "seg_idx", F.md5(F.col("seg")).alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    kept = segs.select(
        "doc_id",
        (F.row_number().over(w) == 1).cast("int").alias("is_first"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("is_first").cast("long").alias("n_kept"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            F.round(
                1.0 - F.col("n_kept") / F.col("n_segments"), 4
            ).alias("dup_ratio"),
        )
    )
