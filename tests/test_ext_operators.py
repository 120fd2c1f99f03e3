"""EXT operator semantics beyond the oracle gate: LSH recall vs
exact ground truth, simhash behavior on near-dups, multimodal
plumbing shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wilayah_aceh_etl_spark.operators import dedup as D
from wilayah_aceh_etl_spark.operators import multimodal as M
from wilayah_aceh_etl_spark.operators import similarity as S
from wilayah_aceh_etl_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_lsh_recall_vs_exact(spark, docs):
    """Banded MinHash must recover every exact-Jaccard≥0.5 pair on
    this corpus (4 bands × 2 rows is generous at this threshold)."""
    sh = D.distinct_shingles(docs, "doc_id")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(sh).filter("jaccard >= 0.5").collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in D.verified_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert lsh == exact
    assert len(exact) > 0, "corpus should contain planted near-dups"


def test_minhash_estimates_jaccard(spark, docs):
    """Signature agreement rate approximates true Jaccard for the
    planted high-similarity pairs."""
    sh = D.distinct_shingles(docs, "doc_id")
    sigs = D.minhash_signatures(sh, 8)
    pairs = D.jaccard_pairs(sh).filter("jaccard >= 0.8")
    a = sigs.select([F.col(c).alias(f"a_{c}") for c in sigs.columns])
    b = sigs.select([F.col(c).alias(f"b_{c}") for c in sigs.columns])
    joined = (
        pairs.join(a, pairs.doc_a == a.a_doc_id)
        .join(b, pairs.doc_b == b.b_doc_id)
    )
    agree = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(8)
    )
    rows = joined.select("jaccard", (agree / 8).alias("est")).collect()
    assert rows
    for r in rows:
        assert abs(r.est - r.jaccard) <= 0.5  # k=8 → coarse but correlated
    mean_err = sum(abs(r.est - r.jaccard) for r in rows) / len(rows)
    assert mean_err <= 0.3


def test_simhash_close_on_near_dups(spark, docs):
    """Near-identical docs (Jaccard ≥ 0.9) must land within small
    hamming distance of each other."""
    sh = D.distinct_shingles(docs, "doc_id")
    close = D.jaccard_pairs(sh).filter("jaccard >= 0.9")
    fps = D.simhash16(docs, "doc_id")
    a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    rows = (
        close.join(a, "doc_a")
        .join(b, "doc_b")
        .select(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("d"))
        .collect()
    )
    assert rows
    # 16-bit fingerprints over ~30-token docs: 1-2 word edits can
    # flip a few majority votes — observed max 3 on this corpus
    assert all(r.d <= 4 for r in rows)


def test_bucketed_pairs_subset_of_exact(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.vec_a, r.vec_b) for r in S.threshold_pairs(emb, 0.15).collect()
    }
    bucketed = {
        (r.vec_a, r.vec_b) for r in S.bucketed_pairs(emb, 0.15, 8).collect()
    }
    assert bucketed <= exact


def test_multimodal_pipeline_shape(spark, docs):
    media = M.attach_fake_payload(docs.limit(50), "doc_id")
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "payload",
        "mime",
        "n_bytes",
    ]
    decoded = M.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 50
    assert all(64 <= r.width <= 2047 and 1 <= r.n_channels <= 4 for r in rows)
    # deterministic: same input → same metadata
    again = {r.media_id: (r.width, r.height) for r in M.decode_media(media).collect()}
    assert all(again[r.media_id] == (r.width, r.height) for r in rows)


def test_multimodal_real_decode_unknown_format_is_explicit_seam(spark, docs):
    """A non-image payload (utf-8 text here) must fail loudly at the
    codec seam, not silently fall back to fake metadata."""
    media = M.attach_fake_payload(docs.limit(5), "doc_id")
    with pytest.raises(Exception, match="NotImplementedError|not PNG"):
        M.decode_media(media, real=True).collect()


def test_parse_image_header_four_formats():
    """Pure parser on handcrafted, spec-valid headers of all four
    supported containers — no Spark, no image libraries."""
    import struct

    # PNG via our own encoder
    assert M.parse_image_header(M.make_png(33, 47, 9)) == (33, 47, 1)
    # JPEG: SOI + APP0 + SOF0 (h=120, w=80, 3 components)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 120, 80) + b"\x03" + b"\x00" * 9
    )
    assert M.parse_image_header(jpeg) == (80, 120, 3)
    # GIF89a logical screen 200x100
    gif = b"GIF89a" + struct.pack("<HH", 200, 100) + b"\x00\x00\x00"
    assert M.parse_image_header(gif) == (200, 100, 3)
    # BMP with top-down (negative) height
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 4
    assert M.parse_image_header(bmp) == (640, 480, 3)
    # junk → None (the seam)
    assert M.parse_image_header(b"not an image") is None
    assert M.parse_image_header(b"") is None
    # ADVICE r4 (low): truncated/corrupt JPEG streams must hit the
    # None seam, never raise struct.error from an executor task —
    # every prefix of a valid stream, and streams cut within the
    # length bytes of a sized marker (e.g. right after EOI)
    for cut in range(len(jpeg)):
        assert M.parse_image_header(jpeg[:cut]) in (None, (80, 120, 3))
    assert M.parse_image_header(b"\xff\xd8\xff\xd9\xff\xfe") is None
    assert M.parse_image_header(b"\xff\xd8\xff\xe0\x00") is None
    assert M.parse_image_header(b"\xff\xd8\xff\xc0\x00\x11\x08\x00") is None


def test_real_png_roundtrip_decode(spark, docs):
    """End-to-end: synthesize genuine PNGs, decode via header parse,
    dimensions must equal the arithmetic the payloads were built
    from."""
    media = M.attach_png_payload(docs.limit(30), "doc_id")
    rows = M.decode_media(media, real=True).collect()
    assert len(rows) == 30
    for r in rows:
        assert r.width == 1 + r.media_id % 64
        assert r.height == 1 + (r.media_id * 7) % 64
        assert r.n_channels == 1


def test_resize_and_frames(spark, docs):
    media = M.attach_fake_payload(docs.limit(20), "doc_id")
    resized = M.resize_media(media, max_side=128).collect()
    assert all(max(r.width, r.height) <= 128 for r in resized)
    frames = M.sample_frames(media, every_n=10)
    n = frames.count()
    assert n >= 20  # 1→N expansion
    assert frames.schema.fieldNames() == ["media_id", "frame_index", "frame_digest"]


def test_minhash_signatures_from_docs_matches_explode_path(spark):
    from wilayah_aceh_etl_spark.operators import dedup as D
    from wilayah_aceh_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    via_arrays = {
        r["doc_id"]: tuple(r[f"mh{s}"] for s in range(D.DEFAULT_K))
        for r in D.minhash_signatures_from_docs(docs).collect()
    }
    sh = D.distinct_shingles(docs, "doc_id")
    via_explode = {
        r["doc_id"]: tuple(r[f"mh{s}"] for s in range(D.DEFAULT_K))
        for r in D.minhash_signatures(sh).collect()
    }
    assert via_arrays == via_explode


def test_connected_components_handmade_graph(spark):
    from wilayah_aceh_etl_spark.operators.dedup import connected_components

    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_chunk_payload_reassembles(spark, docs):
    import hashlib

    media = M.attach_fake_payload(docs.limit(20), "doc_id")
    chunks = M.chunk_payload(media, chunk_bytes=100).collect()
    originals = {
        r.media_id: bytes(r.payload) for r in media.collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.media_id, []).append(r)
    for mid, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_index)
        # indices contiguous from 0, sizes full except possibly last
        assert [r.chunk_index for r in rows] == list(range(len(rows)))
        assert all(r.chunk_n_bytes == 100 for r in rows[:-1])
        # digests match the original payload sliced the same way
        b = originals[mid]
        assert sum(r.chunk_n_bytes for r in rows) == len(b)
        for i, r in enumerate(rows):
            assert (
                hashlib.md5(b[i * 100 : (i + 1) * 100]).hexdigest()
                == r.chunk_digest
            )


def test_approx_sketches_within_error_bounds(spark):
    """The two rows-only sketch queries can't hash-match an oracle,
    but their error IS checkable: HLL++ at rsd=0.01 must land within
    5% of exact counts, and GK quartiles within the rank tolerance
    (value between the exact neighbors ±2% of rank)."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.analytics import (
        approx_distinct_lineitem_keys,
        approx_percentile_prices,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    got = approx_distinct_lineitem_keys(spark, SF_SMOKE).collect()[0]
    l = load_table(spark, SF_SMOKE, "lineitem")
    exact = l.agg(
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
        F.countDistinct("l_orderkey").alias("o"),
    ).collect()[0]
    for approx, true in [
        (got.n_parts_approx, exact.p),
        (got.n_suppliers_approx, exact.s),
        (got.n_orders_approx, exact.o),
    ]:
        assert abs(approx - true) / true < 0.05, (approx, true)

    o = load_table(spark, SF_SMOKE, "orders")
    for row in approx_percentile_prices(spark, SF_SMOKE).collect():
        vals = [
            r.o_totalprice
            for r in o.filter(F.col("o_orderstatus") == row.o_orderstatus)
            .select("o_totalprice")
            .collect()
        ]
        vals.sort()
        n = len(vals)
        quartiles = (row.p25_approx, row.p50_approx, row.p75_approx)
        for q, v in zip((0.25, 0.5, 0.75), quartiles):
            lo = vals[max(0, int((q - 0.02) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.02) * n))]
            assert lo <= v <= hi, (row.o_orderstatus, q, v, lo, hi)


def test_hll_rollup_merge_equals_direct_and_bounds(spark):
    """HLL registers update by max(), so union-of-minute-sketches is
    EXACTLY the sketch of the hour (merge associativity) — and the
    estimate lands within 5% of the exact distinct count."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.events_queries import events_hll_rollup
    from wilayah_aceh_etl_spark.sources.tables import load_table

    rolled = {
        r.hour: r.approx_distinct_users
        for r in events_hll_rollup(spark, SF_SMOKE).collect()
    }
    e = load_table(spark, SF_SMOKE, "events")
    direct = {
        r.hour: r.est
        for r in e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r.hour: r.n
        for r in e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert rolled == direct  # partial-merge == direct, bit-exact
    for h, est in rolled.items():
        assert abs(est - exact[h]) / exact[h] < 0.05


def test_cms_heavy_hitters_error_bounds(spark):
    """Count-min guarantees est >= true always, and
    est - true <= eps*N with 99% confidence per probe; with the
    fixed seed the sketch is deterministic, so these bounds either
    hold reproducibly or the query is wrong."""
    from wilayah_aceh_etl_spark.plans.events_queries import (
        events_cms_heavy_hitters,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    rows = events_cms_heavy_hitters(spark, SF_SMOKE).collect()
    assert 1 <= len(rows) <= 20  # smoke SF has <20 distinct users
    n_total = load_table(spark, SF_SMOKE, "events").count()
    for r in rows:
        assert r.est_n >= r.exact_n, r
        assert r.est_n - r.exact_n <= max(1, int(0.001 * n_total)), r


def test_array_verify_matches_exploded_reference(spark):
    """The array verify (shingle_arrays + jaccard_for_pair_arrays)
    against the exploded reference (distinct_shingles +
    jaccard_for_pairs) on the edge cases: documents shorter than n
    words, empty and null text, repeated shingles, and a pair sharing
    no shingle, which the exploded join drops and the array verify
    reads as 0.0."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "a b c a b c a b c"),  # each shingle three times
            (4, "a b c a b c"),
            (5, "p q r s"),  # shares no shingle with 1-4
            (6, "a b"),  # shorter than n
            (7, ""),
            (8, None),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(a + 1, 9)],
        "doc_a long, doc_b long",
    )
    arrays = D.shingle_arrays(docs)
    assert {
        r.doc_id: sorted(r._sh) for r in arrays.collect()
    } == {
        1: ["a b c", "b c d", "c d e"],
        2: ["a b c", "b c d", "c d x"],
        3: ["a b c", "b c a", "c a b"],
        4: ["a b c", "b c a", "c a b"],
        5: ["p q r", "q r s"],
    }
    ref = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_for_pairs(
            pairs, D.distinct_shingles(docs, "doc_id")
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_for_pair_arrays(pairs, arrays).collect()
    }
    assert {p: j for p, j in got.items() if j > 0} == ref
    assert ref[(1, 2)] == 0.5 and ref[(3, 4)] == 1.0 and ref[(1, 3)] == 0.2
    assert got[(1, 5)] == 0.0 and (1, 5) not in ref
    assert all(a <= 5 and b <= 5 for a, b in got)


def test_python_cms_reader_matches_jvm(spark):
    """The pure-Python CountMinSketch wire-format reader
    (functions/sketches.py) must be bit-identical to the JVM
    implementation it replaces — every probe, including keys never
    inserted and negative keys. (The JVM side here is test-only
    scaffolding; product code no longer touches spark._jvm.)"""
    from wilayah_aceh_etl_spark.functions.sketches import (
        CountMinSketchReader,
    )

    df = spark.range(5000).select((F.col("id") % 137).alias("k"))
    payload = bytes(
        df.agg(
            F.count_min_sketch(F.col("k"), F.lit(0.01), F.lit(0.9), F.lit(7))
        ).head()[0]
    )
    py = CountMinSketchReader.from_bytes(payload)
    jvm_sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        spark._sc._jvm.java.io.ByteArrayInputStream(payload)
    )
    keys = list(range(150)) + [10_000, 123_456_789, -1, -42]
    assert [py.estimate_count(k) for k in keys] == [
        jvm_sketch.estimateCount(k) for k in keys
    ]
    assert py.total_count == 5000


def test_segment_dedup_keep_first_semantics(spark):
    """Planted duplicate segment: doc 1 owns the first occurrence,
    doc 2's copy counts as duplicated; unique segments stay kept."""
    ten_a = " ".join(f"a{i}" for i in range(10))
    ten_b = " ".join(f"b{i}" for i in range(10))
    ten_c = " ".join(f"c{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, f"{ten_a} {ten_b}"), (2, f"{ten_a} {ten_c}")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_segments, r.n_kept, r.dup_ratio)
        for r in D.segment_dedup_stats(df).collect()
    }
    assert rows[1] == (2, 2, 0.0)  # first occurrence keeps both
    assert rows[2] == (2, 1, 0.5)  # the shared segment is a dup here


def test_png_pixel_roundtrip_all_filters():
    """decode_png_pixels must invert encode_png_pixels for every
    scanline filter the spec defines (None/Sub/Up/Average/Paeth),
    every supported channel count, and non-square shapes — pure
    Python, no Spark."""
    import random

    rng = random.Random(42)
    for channels in (1, 2, 3, 4):
        for ft in (0, 1, 2, 3, 4):
            w, h = rng.randint(1, 9), rng.randint(1, 9)
            px = bytes(rng.randrange(256) for _ in range(w * h * channels))
            payload = M.encode_png_pixels(px, w, h, channels, filter_type=ft)
            # header parser agrees on the way through
            assert M.parse_image_header(payload) == (w, h, channels)
            got = M.decode_png_pixels(payload)
            assert got == (w, h, channels, px), (channels, ft, w, h)


def test_png_pixel_decode_unsupported_is_explicit_seam():
    import struct
    import zlib

    # palette (color type 3) must hit the seam, not mis-decode
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + M._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        M.decode_png_pixels(pal)
    with pytest.raises(NotImplementedError):
        M.decode_png_pixels(b"GIF89a not a png")


def test_real_resize_downsamples_pixels(spark, docs):
    """resize_media(real=True): output PNGs re-decode to the reduced
    dimensions with intensities drawn from the source image (constant
    here, so exactly preserved)."""
    media = M.attach_png_payload(docs.limit(10), "doc_id", max_side=64)
    rows = M.resize_media(media, max_side=16, real=True).collect()
    assert len(rows) == 10
    for r in rows:
        w, h, ch, px = M.decode_png_pixels(bytes(r.payload))
        assert (w, h) == (r.width, r.height)
        assert max(w, h) <= 16
        orig_w = 1 + r.media_id % 64
        orig_h = 1 + (r.media_id * 7) % 64
        s = max(1.0, max(orig_w, orig_h) / 16)
        assert w == max(1, int(orig_w / s)) and h == max(1, int(orig_h / s))
        assert set(px) == {r.media_id % 256}  # constant image preserved


@pytest.mark.parametrize(
    "eps,conf,seed",
    [(0.01, 0.9, 7), (0.001, 0.99, 42), (0.05, 0.8, 0), (0.002, 0.95, 12345)],
)
def test_python_cms_reader_across_parameters(spark, eps, conf, seed):
    """Wire-format parse must hold for every (depth, width) geometry
    the (eps, confidence) surface produces, not just one sketch."""
    from wilayah_aceh_etl_spark.functions.sketches import (
        CountMinSketchReader,
    )

    df = spark.range(2000).select((F.col("id") % 61).alias("k"))
    payload = bytes(
        df.agg(
            F.count_min_sketch(
                F.col("k"), F.lit(eps), F.lit(conf), F.lit(seed)
            )
        ).head()[0]
    )
    py = CountMinSketchReader.from_bytes(payload)
    jvm_sketch = (
        spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            spark._sc._jvm.java.io.ByteArrayInputStream(payload)
        )
    )
    assert (py.depth, py.width) == (
        jvm_sketch.depth(),
        jvm_sketch.width(),
    )
    keys = list(range(70)) + [-3, 10**12]
    assert [py.estimate_count(k) for k in keys] == [
        jvm_sketch.estimateCount(k) for k in keys
    ]


def test_bmp_gif_pixel_decoders_pure():
    """Pure-Python BMP/GIF pixel decoders on handcrafted images —
    order-sensitive probes for BMP's bottom-up storage and a KwKwK
    LZW case for GIF (no Spark)."""
    # BMP gradient round trip incl. a width that forces row padding
    for m, w, h in [(9, 3, 4), (0, 1, 1), (250, 7, 5)]:
        p = M.make_bmp(w, h, lambda x, y, m=m: (m + x + 2 * y) % 256)
        W, H, px = M.decode_bmp_pixels(p)
        assert (W, H) == (w, h)
        assert px == [(m + x + 2 * y) % 256 for y in range(h) for x in range(w)]
    # top-down (negative height) BMP variant
    import struct

    p = M.make_bmp(3, 4, lambda x, y: x + 10 * y)
    W, H, up = M.decode_bmp_pixels(p)
    neg = bytearray(p)
    neg[22:26] = struct.pack("<i", -4)
    # same bytes flagged top-down: the decoder must NOT flip, so the
    # logical rows come out in reverse order vs the bottom-up read
    W2, H2, td = M.decode_bmp_pixels(bytes(neg))
    assert (W2, H2) == (3, 4)
    rows_up = [up[r * 3 : (r + 1) * 3] for r in range(4)]
    rows_td = [td[r * 3 : (r + 1) * 3] for r in range(4)]
    assert rows_td == rows_up[::-1]
    # GIF: real LZW with table growth + KwKwK ('abababab', mcs=7)
    CLEAR, END = 128, 129
    codes = [CLEAR, ord("a"), ord("b"), 130, 132, END]  # a b ab aba
    acc = nb = 0
    stream = bytearray()
    width = 8
    for c in codes:
        acc |= c << nb
        nb += width
        while nb >= 8:
            stream.append(acc & 255)
            acc >>= 8
            nb -= 8
    if nb:
        stream.append(acc & 255)
    out = M._lzw_decode(bytes(stream), 7, 7)
    assert bytes(out) == b"abababa"
    # truncated LZW → None, not an exception
    assert M._lzw_decode(bytes(stream[:2]), 7, 7) is None
    # corrupt: code far beyond table → None
    assert M._lzw_decode(b"\xff\xff\xff", 2, 9) is None


def test_animated_gif_frames_pure():
    """Animated-GIF decode: all frames recovered exactly; truncation
    and hostile-dimension payloads hit the None seam."""
    import struct

    m, w, h, nf = 7, 6, 3, 4
    p = M.make_gif_animated(w, h, nf, lambda f, x, y: (m + 5 * f + 3 * x + y) % 256)
    frames = M.decode_gif_frames(p)
    assert [fr[:2] for fr in frames] == [(w, h)] * nf
    for f, (_, _, px) in enumerate(frames):
        assert px == [
            (m + 5 * f + 3 * x + y) % 256 for y in range(h) for x in range(w)
        ]
    # first-frame reader agrees
    assert M.decode_gif_pixels(p)[2] == frames[0][2]
    # truncation sweep never raises
    for cut in range(0, len(p), 5):
        M.decode_gif_frames(p[:cut])
    # hostile dims: descriptor claiming 65535x65535 → None, fast
    bad = bytearray(p)
    off = 13 + 768 + 19 + 8  # header+palette+netscape+gce → descriptor
    assert bad[off] == 0x2C
    bad[off + 5 : off + 9] = struct.pack("<HH", 65535, 65535)
    assert M.decode_gif_frames(bytes(bad)) is None


def test_ivf_partitioned_layout_prunes(spark, tmp_path):
    """The centroid-partitioned layout must turn probing into
    STORAGE-level pruning: the probe plan carries a PartitionFilters
    entry on `centroid`, scans only the probed directories' files,
    and returns exactly what the logical ivf_topk returns."""
    import re

    from wilayah_aceh_etl_spark.operators.similarity import (
        ivf_partitioned_topk,
        ivf_topk,
        write_ivf_layout,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "ivf_layout")
    write_ivf_layout(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 5)

    got = ivf_partitioned_topk(spark, path, queries, k=10, n_probe=4)
    want = {
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in ivf_topk(emb, queries, k=10, n_probe=4).collect()
    }
    assert {
        (r.query_id, r.vec_id, r.cos_sim, r.rk) for r in got.collect()
    } == want

    # the scan itself: partition filter present, fewer files read
    # than the table holds
    probed = spark.read.parquet(path).filter(
        F.col("centroid").isin([0, 3, 7, 11])
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "centroid" in m.group(1), plan[:800]
    import os

    all_dirs = [
        d for d in os.listdir(path) if d.startswith("centroid=")
    ]
    assert len(all_dirs) == 16
    n_probed_files = probed.select(
        F.input_file_name()
    ).distinct().count()
    n_all_files = (
        spark.read.parquet(path)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert n_probed_files < n_all_files
    probed_dirs = {
        re.search(r"centroid=(\d+)", r[0]).group(1)
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    assert probed_dirs == {"0", "3", "7", "11"}


def test_jpeg_restart_segments_decode_independently():
    """The scale claim behind restart markers, proven mechanically:
    each restart segment of the entropy-coded scan is independently
    decodable — a FRESH bit reader started at any segment boundary,
    with DC prediction starting from 0, reproduces exactly that
    segment's blocks. This is what lets a huge scan split into
    parallel work units (the parquet-row-group analogy in the
    encoder docstring)."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    w = h = 32  # 16 MCUs
    ri = 3  # restart every 3 MCUs → 6 segments, last one ragged

    def gray(x, y):
        return (5 + 3 * x + 7 * y) % 256

    p = M.make_jpeg_gray(w, h, gray, restart_interval=ri)
    W, H, full = M.decode_jpeg_gray_pixels(p)
    assert (W, H) == (w, h)

    # locate the scan start (SOS segment end) and the RST markers;
    # markers are byte-aligned and cannot appear inside entropy data
    # (0xFF there is always stuffed as 0xFF 0x00)
    sos = p.find(b"\xff\xda")
    scan_start = sos + 2 + int.from_bytes(p[sos + 2 : sos + 4], "big")
    boundaries = [scan_start]
    i = scan_start
    while i < len(p) - 1:
        if p[i] == 0xFF and 0xD0 <= p[i + 1] <= 0xD7:
            boundaries.append(i + 2)  # segment starts after the marker
        i += 1
    assert len(boundaries) == 6  # 16 MCUs / 3 per segment

    # decode every segment with a FRESH reader and zero DC state
    qt = [0] * 64
    # the DQT segment carries the table in zigzag order
    dqt = p.find(b"\xff\xdb")
    zz = p[dqt + 5 : dqt + 69]
    for k in range(64):
        qt[M._JPEG_ZZ[k]] = zz[k]
    dc_codes = {
        (length, code): sym
        for sym, (length, code) in M._jpeg_build_codes(
            M._JPEG_DC_BITS, M._JPEG_DC_VALS
        ).items()
    }
    ac_codes = {
        (length, code): sym
        for sym, (length, code) in M._jpeg_build_codes(
            M._JPEG_AC_BITS, M._JPEG_AC_VALS
        ).items()
    }

    def decode_segment(start: int, n_mcus: int) -> list[list[int]]:
        reader = M._JpegBitReader(p, start)
        prev_dc = 0
        blocks = []
        for _ in range(n_mcus):
            zzc = [0] * 64
            size = M._jpeg_decode_symbol(reader, dc_codes)
            prev_dc += M._jpeg_extend(reader.bits(size), size)
            zzc[0] = prev_dc
            k = 1
            while k < 64:
                rs = M._jpeg_decode_symbol(reader, ac_codes)
                if rs == 0x00:
                    break
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    k += 16
                    continue
                k += run
                zzc[k] = M._jpeg_extend(reader.bits(size), size)
                k += 1
            coefs = [0] * 64
            for k in range(64):
                coefs[M._JPEG_ZZ[k]] = zzc[k]
            blocks.append(M._jpeg_dequant_idct(coefs, qt))
        return blocks

    # segments decoded OUT OF ORDER (reversed) — order independence
    seg_blocks: dict[int, list] = {}
    for si in reversed(range(6)):
        n = 3 if si < 5 else 16 - 3 * 5
        seg_blocks[si] = decode_segment(boundaries[si], n)
    blocks = [b for si in range(6) for b in seg_blocks[si]]
    assert len(blocks) == 16

    # reassemble and compare to the sequential full decode
    bw = w // 8
    got = [0] * (w * h)
    for bi, block in enumerate(blocks):
        bx, by = bi % bw, bi // bw
        for j in range(8):
            for i2 in range(8):
                got[(by * 8 + j) * w + (bx * 8 + i2)] = block[j * 8 + i2]
    assert got == full


def test_semantic_admission_prunes_partitions(spark, tmp_path):
    """Incremental SemDeDup admission must hit the storage layer:
    the stored-corpus scan carries a PartitionFilters entry on
    `centroid` restricted to the clusters the incoming batch touches,
    and reads strictly fewer files than the table holds. Verdicts
    must equal the unpartitioned logical form: for each incoming
    vector, n_near_dups counted against ONLY its own cluster's
    stored members."""
    import re

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    corpus = emb.filter((F.col("vec_id") < 480) | (F.col("vec_id") >= 500))
    incoming = emb.filter(F.col("vec_id").between(480, 499))
    path = str(tmp_path / "sem_layout")
    S.write_ivf_layout(corpus, path, n_centroids=16, trained=True, n_iter=2)

    spark.catalog.clearCache()
    # eager=True: the per-micro-batch admission loop's form (the
    # DEFAULT is lazy since r9 so the registered gate query keeps an
    # inspectable distributed plan — r8 advice)
    got = S.semantic_admission_pruned(
        spark, path, incoming, threshold=0.35, eager=True
    )
    rows = got.collect()
    assert len(rows) == 20
    assert all(
        (r.admit == 1) == (r.n_near_dups == 0) for r in rows
    )
    # candidate scoping: nobody was compared against the whole corpus
    n_corpus = corpus.count()
    assert all(r.n_cluster_candidates < n_corpus for r in rows)

    # eager mode (the per-micro-batch admission loop's form) must
    # release the assigned-batch cache before returning — bounded
    # state across calls (r7 advice). The cache-manager probe is a
    # classic-JVM internal; under Spark Connect it is absent and the
    # check degrades gracefully, same policy as sources.tables.spread
    try:
        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    except Exception:  # Spark Connect: no _jsparkSession surface
        cache_mgr = None
    if cache_mgr is not None:
        assert cache_mgr.isEmpty(), "eager admission leaked a cached batch"

    # the pruned scan, asserted on the OPERATOR's own lazy plan
    # (the default form since r9 — eager collects to a LocalRelation):
    # the stored-side FileScan must carry a PartitionFilters entry on
    # `centroid` — if a refactor ever stops the filter pushing down
    # as a partition filter, this assertion fails rather than the
    # operator silently full-scanning. _jdf is classic-JVM-only;
    # under Connect the plan probe degrades gracefully (same policy
    # as spread()) while the verdict assertions above still run.
    lazy = S.semantic_admission_pruned(
        spark, path, incoming, threshold=0.35, eager=False
    )
    try:
        op_plan = lazy._jdf.queryExecution().executedPlan().toString()
    except Exception:  # Spark Connect: no _jdf surface
        op_plan = None
    if op_plan is not None:
        op_filters = re.findall(r"PartitionFilters: \[(.*?)\]", op_plan)
        assert any("centroid" in pf for pf in op_filters), op_plan[:1200]
    # lazy form hands the cached batch to the caller — release it
    lazy._admission_cache.unpersist()
    # and the filtered layout reads a strict subset of the files
    touched = sorted({int(r.cid) for r in rows})
    pruned = spark.read.parquet(path).filter(
        F.col("centroid").isin(touched)
    )
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    n_all = (
        spark.read.parquet(path)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert n_pruned < n_all, (n_pruned, n_all)

    # cross-check one verdict against a hand-computed cluster scan
    import math

    stored = spark.read.parquet(path).collect()
    by_cid = {}
    for r in stored:
        by_cid.setdefault(int(r.centroid), []).append(list(r.vec))
    emb_rows = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in incoming.collect()
    }

    def cos(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num = num + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        return num / (math.sqrt(na) * math.sqrt(nb))

    from wilayah_aceh_etl_spark.functions.numeric import round_half_away

    probe = rows[0]
    cand = by_cid.get(int(probe.cid), [])
    want_dups = sum(
        1
        for v in cand
        # engine ROUND is half-away-from-zero, not Python's banker's
        if round_half_away(cos(emb_rows[int(probe.vec_id)], v) * 1e6) / 1e6
        >= 0.35
    )
    assert probe.n_cluster_candidates == len(cand)
    assert probe.n_near_dups == want_dups


def test_dsir_planted_target_vocabulary(spark):
    """DSIR semantics on a planted corpus: target docs use vocabulary
    A, distractors vocabulary B, one held-out doc per vocabulary.
    The held-out A doc must out-rank every B doc on dsir_rate (its
    unigrams carry positive target log-ratios), and scores must be
    exact BIGINTs — the micro-nat quantization contract."""
    from wilayah_aceh_etl_spark.operators.text_analysis import (
        dsir_document_scores,
    )

    rows = [
        (0, True, "alpha beta gamma alpha beta"),
        (1, True, "beta gamma alpha gamma beta"),
        (2, False, "delta epsilon zeta delta epsilon"),
        (3, False, "epsilon zeta delta zeta epsilon"),
        # held-out: pure-A and pure-B docs NOT in the target split
        (4, False, "alpha beta gamma beta alpha"),
        (5, False, "delta epsilon zeta epsilon delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, is_tgt boolean, text string")
    scored = dsir_document_scores(df, target=F.col("is_tgt"))
    rates = {r.doc_id: r.dsir_rate for r in scored.collect()}
    assert rates[4] > rates[5], rates
    assert rates[4] > rates[2] and rates[4] > rates[3], rates
    assert dict(scored.dtypes)["dsir_score"] == "bigint"
    assert dict(scored.dtypes)["dsir_rate"] == "bigint"


def test_dsir_corpus_rate_separates_target_mean(spark, docs):
    """On the synthetic corpus the target split (source='src0') is
    its own best-scoring population in the mean: average dsir_rate
    of target docs exceeds the non-target average (the weight is a
    target-vs-raw log-likelihood ratio, so this is the defining
    property of the score, independent of tail noise)."""
    from wilayah_aceh_etl_spark.operators.text_analysis import (
        dsir_document_scores,
    )

    scored = dsir_document_scores(docs, target=F.col("source") == "src0")
    joined = scored.join(docs.select("doc_id", "source"), "doc_id")
    means = {
        r.is_target: r.mean_rate
        for r in joined.groupBy(
            (F.col("source") == "src0").alias("is_target")
        )
        .agg(F.avg("dsir_rate").alias("mean_rate"))
        .collect()
    }
    assert means[True] > means[False], means


def test_semantic_dedup_derived_centroids_bound_cluster_size(spark):
    """n_centroids=None derives C = max(16, ceil(n / target_cluster_size))
    (the C ∝ N practice the SCALE.md sf1 sweep validates), so the
    quadratic within-cluster pair work stays bounded as the corpus
    grows. Pins: (a) the derived C is used — the output's distinct
    cid count exceeds the old fixed default; (b) MEAN cluster size is
    ≤ target by construction (n/C ≤ target); (c) the derived run is
    bit-identical to an explicit run at the same C — derivation is
    sizing only, never a semantics change."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    n = emb.count()
    target = 16
    got = S.semantic_dedup(
        emb, threshold=0.35, n_iter=2,
        n_centroids=None, target_cluster_size=target,
    )
    rows = got.collect()
    assert len(rows) == n
    derived_c = max(16, -(-n // target))
    assert derived_c > 16  # actually derived, not the floor
    sizes = {}
    for r in rows:
        sizes[r.cid] = sizes.get(r.cid, 0) + 1
    # non-empty clusters ≤ derived C; mean size bounded by target
    assert len(sizes) <= derived_c
    assert n / len(sizes) <= target * 2  # k-means skew tolerance
    assert n / derived_c <= target  # the sizing invariant itself
    explicit = S.semantic_dedup(
        emb, threshold=0.35, n_iter=2, n_centroids=derived_c
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, explicit))


def _packed_centroids(df):
    """(cid, cvec) rows as raw IEEE-754 bytes — bit-identity compare
    (a plain == would conflate -0.0 with 0.0)."""
    import struct

    return sorted(
        (int(r["cid"]), struct.pack(f"<{len(r['cvec'])}d", *r["cvec"]))
        for r in df.collect()
    )


def _fold_dot(a, b):
    """The engine's sequential-fold dot: (((0.0 + a1·b1) + a2·b2) + …)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_lloyd(rows, n_centroids, n_iter):
    """Pure-Python spherical Lloyd with kmeans_centroids' contract:
    seeds are the first C vectors by id, each vector goes to the max
    of (cosine, -cid) — ties to the low cid — and each coordinate is
    the mean of HALF_UP round(v·2²⁴) integers over 2²⁴."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    Q = 1 << 24
    d = len(rows[0][1])
    cents = sorted(rows)[:n_centroids]
    for _ in range(n_iter):
        cnrm = {cid: math.sqrt(_fold_dot(c, c)) for cid, c in cents}
        sums: dict[int, list[int]] = {}
        for _, v in rows:
            nrm = math.sqrt(_fold_dot(v, v))
            _, ncid = max(
                (_fold_dot(v, c) / (nrm * cnrm[cid]), -cid) for cid, c in cents
            )
            acc = sums.setdefault(-ncid, [0] * (d + 1))
            acc[d] += 1
            for j in range(d):
                acc[j] += int(
                    Decimal(v[j] * Q).quantize(Decimal(1), ROUND_HALF_UP)
                )
        cents = sorted(
            (cid, [float(acc[j]) / acc[d] / Q for j in range(d)])
            for cid, acc in sums.items()
        )
    return cents


def _hash_corpus(n, d):
    """n distinct vectors of dimension d with signed components: a
    Knuth-multiplier hash per (row, dimension), no shared period."""
    return [
        (
            i,
            [
                ((i + 1) * 2654435761 * (2 * j + 1) % 8191) / 8191 - 0.5
                for j in range(d)
            ],
        )
        for i in range(n)
    ]


def test_kmeans_matches_python_lloyd(spark):
    """kmeans_centroids trains every C through the one _assign_nearest
    kernel and the one (cid, j) mean aggregate; its centroids are
    byte-for-byte those of a pure-Python Lloyd (_py_lloyd) at d = 4
    for a small C and at C = 300 and 512, where assignment once
    needed a different plan form, and at d = 64 for C = 16 and 256."""
    import struct

    # 600 DISTINCT well-separated vectors (Knuth-multiplier hash per
    # dimension, distinct prime moduli — no shared period), d=4,
    # strictly positive
    mods = (4093, 4099, 4111, 4127)
    rows4 = [
        (
            i,
            [1.0 + ((i + 1) * 2654435761 % mods[j]) / mods[j] for j in range(4)],
        )
        for i in range(600)
    ]
    for rows, cs in ((rows4, (16, 300, 512)), (_hash_corpus(400, 64), (16, 256))):
        d = len(rows[0][1])
        v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for c in cs:
            want = sorted(
                (cid, struct.pack(f"<{d}d", *cvec))
                for cid, cvec in _py_lloyd(rows, c, 2)
            )
            got = _packed_centroids(S.kmeans_centroids(v, c, n_iter=2))
            assert got == want, f"d={d} C={c}"


def _column_lloyd(v, n_centroids, n_iter):
    """The former Lloyd loop, whose mean step is one aggregate keyed
    by cid with one quantized column-sum per dimension, each read
    with element_at."""
    from wilayah_aceh_etl_spark.functions.vectors import l2_norm

    Q = 16777216
    cents = [
        (int(r["vec_id"]), list(r["vec"]))
        for r in v.orderBy("vec_id").limit(n_centroids).collect()
    ]
    d = len(cents[0][1])
    vn = v.withColumn("nrm", l2_norm("vec"))
    for _ in range(n_iter):
        sums = (
            S._assign_nearest(vn, S._local_centroid_row(v.sparkSession, cents))
            .select(F.col("centroid").alias("cid"), "vec")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("_n"),
                *[
                    F.expr(
                        f"CAST(sum(CAST(round(element_at(vec, {j + 1}) * {Q})"
                        f" AS BIGINT)) AS BIGINT) AS _s{j}"
                    )
                    for j in range(d)
                ],
            )
            .collect()
        )
        cents = sorted(
            (int(r["cid"]), [float(r[f"_s{j}"]) / r["_n"] / Q for j in range(d)])
            for r in sums
        )
    return cents


def test_kmeans_long_vector_trains_column_form_centroids(spark):
    """A vector longer than the seeds' d contributes its first d
    components to its cluster's mean: the centroids are byte-equal
    to those of the d-column mean step."""
    import struct

    rows = _hash_corpus(200, 4)
    rows[150] = (150, rows[150][1] + [7.25, -3.5])
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted(
        (cid, struct.pack("<4d", *cvec))
        for cid, cvec in _column_lloyd(S._prep(v, "vec_id", "embedding"), 8, 2)
    )
    assert _packed_centroids(S.kmeans_centroids(v, 8, n_iter=2)) == want


def test_kmeans_short_vector_raises(spark):
    """A vector shorter than the seeds' d raises, as its missing
    components did in the d-column mean step."""
    rows = _hash_corpus(200, 4)
    rows[150] = (150, rows[150][1][:3])
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX_IN_ELEMENT_AT"):
        S.kmeans_centroids(v, 8, n_iter=2).collect()


def test_kmeans_zero_dimension_raises_empty_corpus_trains_nothing(spark):
    """Seeds of dimension 0 raise on the driver, naming the empty
    embedding (their zero norms leave no cosine to assign by); a
    corpus without rows trains no centroids."""
    schema = "vec_id long, embedding array<double>"
    v = spark.createDataFrame([(i, []) for i in range(6)], schema)
    with pytest.raises(ValueError, match="empty \\(dimension 0\\)"):
        S.kmeans_centroids(v, 2, n_iter=1)
    empty = spark.createDataFrame([], schema)
    assert S.kmeans_centroids(empty, 2).collect() == []


def _physical_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _physical_nodes(children.apply(i))


def _mean_step_plan(spark, d):
    """The nodes of _mean_step's physical plan (before AQE) on a
    d-dimensional corpus at C = 8."""
    from wilayah_aceh_etl_spark.functions.vectors import l2_norm

    rows = _hash_corpus(64, d)
    vn = S._prep(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        "vec_id",
        "embedding",
    ).withColumn("nrm", l2_norm("vec"))
    plan = S._mean_step(vn, rows[:8], d)._jdf.queryExecution().executedPlan()
    return list(_physical_nodes(plan.initialPlan()))


def test_lloyd_mean_step_plan_does_not_grow_with_d(spark):
    """The mean step is one exchange over a partial aggregate keyed by
    (cid, j), with no join, and holds as many aggregate functions at
    d = 64 as at d = 4."""
    n_functions = []
    for d in (4, 64):
        nodes = _mean_step_plan(spark, d)
        kinds = [n.getClass().getSimpleName() for n in nodes]
        assert not any("Join" in k for k in kinds), kinds
        exchanges = [n for n in nodes if "Exchange" in n.getClass().getSimpleName()]
        assert len(exchanges) == 1, kinds
        partial = exchanges[0].child()
        assert partial.getClass().getSimpleName() == "HashAggregateExec"
        keys = partial.groupingExpressions()
        assert [keys.apply(i).name() for i in range(keys.size())] == ["cid", "j"]
        funcs = partial.aggregateExpressions()
        assert {
            funcs.apply(i).mode().toString() for i in range(funcs.size())
        } == {"Partial"}
        n_functions.append(funcs.size())
    assert n_functions[0] == n_functions[1] == 2


def test_kmeans_two_iterations_run_five_jobs(spark):
    """kmeans_centroids(n_iter=2) runs 5 Spark jobs (statusTracker):
    the seeds' TakeOrdered, then the shuffle map stage and the result
    stage of each iteration's mean step."""
    from tests.conftest import jobs_run

    v = spark.createDataFrame(
        _hash_corpus(200, 64), "vec_id long, embedding array<double>"
    )
    _, jobs = jobs_run(spark, lambda: S.kmeans_centroids(v, 16, n_iter=2))
    assert jobs == 5


def _join_form_assign(c, cent):
    """The former _assign_nearest: a broadcast product of vectors and
    centroid rows, then max(struct(cos, -cid)) grouped by vec_id."""
    from wilayah_aceh_etl_spark.functions.vectors import dot, l2_norm

    c = c.withColumn("nrm", l2_norm("vec"))
    cent = cent.withColumn("cnrm", l2_norm("cvec"))
    return (
        c.join(F.broadcast(cent))
        .select(
            "vec_id",
            "vec",
            "nrm",
            "cid",
            (dot("vec", "cvec") / (F.col("nrm") * F.col("cnrm"))).alias("_cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("_cos"), (-F.col("cid")).alias("_ncid"))).alias(
                "_m"
            ),
            F.first("vec").alias("vec"),
            F.first("nrm").alias("nrm"),
        )
        .select(
            "vec_id",
            "vec",
            "nrm",
            (-F.col("_m._ncid")).cast("long").alias("centroid"),
            F.col("_m._cos").alias("_cent_cos"),
        )
    )


def test_assign_nearest_matches_join_form(spark):
    """The map-side kernel assigns what the groupBy(vec_id) join form
    assigned, to the byte: a centroid duplicated under two cids
    takes its vectors to the lower cid, a vector with a NaN component
    (NaN cosine to every centroid) goes to the lowest cid with a NaN
    cosine, and so does a zero vector, whose cosine 0/0 is NULL with
    ANSI mode off (under ANSI mode it raises in both forms)."""
    import math
    import struct

    cents = [
        (3, [1.0, 0.0, 0.5]),
        (7, [0.0, 1.0, -0.25]),
        (9, [1.0, 0.0, 0.5]),  # duplicate of cid 3
        (12, [-0.5, -0.5, 2.0]),
    ]
    vecs = [
        (0, [0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 1.0]),
        (2, [0.1, 0.9, -0.2]),
        (3, [-1.0, -1.0, 4.0]),
        (4, [0.3, -0.0, 0.15]),
        (5, [5e-324, 1.0, 0.0]),
        (6, [float("nan"), 1.0, 0.0]),
    ]

    def packed(df):
        return sorted(
            (
                r.vec_id,
                r.centroid,
                None if r._cent_cos is None else struct.pack("<d", r._cent_cos),
            )
            for r in df.collect()
        )

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        c = spark.createDataFrame(vecs, "vec_id long, vec array<double>")
        cent = spark.createDataFrame(cents, "cid long, cvec array<double>")
        got = packed(S._assign_nearest(c, cent))
        assert got == packed(_join_form_assign(c, cent))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    by_id = {vid: (cid, cos) for vid, cid, cos in got}
    assert by_id[0] == (3, None)
    assert by_id[1][0] == 3 and by_id[4][0] == 3
    assert by_id[6][0] == 3 and math.isnan(struct.unpack("<d", by_id[6][1])[0])


def test_contrastive_mining_drops_false_negatives(spark, tmp_path):
    """The margin filter IS the denoising step (RocketQA recipe): a
    different-label candidate MORE similar than (positive − 0.02) is
    a probable unlabeled positive and must be dropped, while a
    genuinely-hard negative below the line is kept and ranked first.
    Planted 2-D geometry, full registered code path (trained IVF
    retrieval included)."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        embedding_contrastive_mining,
    )

    rows = []
    # 16 quantizer seeds (label 2): two near the query direction so
    # the planted points' cells are probed, the rest fanned away
    import math

    rows.append((0, [1.0, 0.01], 2))
    rows.append((1, [0.95, 0.05], 2))
    for i in range(2, 16):
        th = math.pi / 2 + (i - 2) * (math.pi / 14)
        rows.append((i, [math.cos(th), math.sin(th)], 2))
    rows.append((20, [0.999, 0.02], 0))   # positive (query's label)
    rows.append((21, [1.0, 0.001], 1))    # false negative: ~cos 1.0
    rows.append((22, [0.9, 0.3], 1))      # true hard negative
    rows.append((100, [1.0, 0.0], 0))     # the query
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    got = embedding_contrastive_mining(spark, str(tmp_path)).collect()
    assert got, "mining must produce hard negatives on this geometry"
    assert all(r.query_id == 100 for r in got)
    neg_ids = [r.neg_id for r in got]
    assert 21 not in neg_ids  # above the margin → denoised away
    assert 0 not in neg_ids   # seed hugging the query: also dropped
    assert got[0].neg_id == 22 and got[0].rk == 1
    # every survivor respects the integer margin against the anchor
    assert all(
        r.neg_cos_micro <= r.pos_cos_micro - 20000 for r in got
    )
    # the anchor is the planted positive's micro-cosine (999800)
    assert got[0].pos_cos_micro == 999800
