"""Reference-parity wilayah queries re-bound to the star schema.

The driver's correctness gate runs over the synthetic star tables,
so each reference operator (SURVEY §2) is exercised here on a
wilayah-shaped hierarchy DERIVED from region→nation→customer→orders
with the exact code-derivation rules of SURVEY §1.4 (reference
server.js:160-185): dotted concatenation, last-2-digit kecamatan
suffix, literal-'2'-prefixed kelurahan code. The true GeoJSON ETL
path runs in operators/wilayah.py against the real reference corpus
(tests/test_wilayah_etl.py).

Levels:
  1 provinsi  ← region    (kode = lpad(r_regionkey, 2))
  2 kabupaten ← nation    (kode = L1 || '.' || lpad(n_nationkey, 2))
  3 kecamatan ← customer  (kd_kecamatan = lpad(c_custkey % 1000, 3);
                           kode = L2 || '.' || right(kd_kecamatan, 2)
                           — deliberately collides like the reference's
                           slice(-2) could, exercising last-wins upsert)
  4 kelurahan ← orders    (kd_kelurahan = lpad(o_orderkey % 1000, 3);
                           kode = L3 || '.' || '2' || kd_kelurahan)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared hierarchy dim — Spark side
# ---------------------------------------------------------------------------


def _lpad2(c):  # 2-digit zero-padded code segment
    return F.lpad(c.cast("string"), 2, "0")


def _lpad3(c):
    return F.lpad(c.cast("string"), 3, "0")


def wilayah_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level wilayah hierarchy (kode, nama, level, src_key) derived
    from the star schema with the SURVEY §1.4 code rules. Dims are
    broadcast; only orders→customer shuffles at scale."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    l1 = r.select(
        _lpad2(F.col("r_regionkey")).alias("kode"),
        F.col("r_name").alias("nama"),
        F.lit(1).alias("level"),
        F.col("r_regionkey").cast("long").alias("src_key"),
    )

    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.concat_ws(
            ".", _lpad2(F.col("r_regionkey")), _lpad2(F.col("n_nationkey"))
        ).alias("kode"),
        F.col("n_name").alias("nama"),
        F.lit(2).alias("level"),
        F.col("n_nationkey").cast("long").alias("src_key"),
    )

    c3 = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.concat_ws(
                ".",
                _lpad2(F.col("r_regionkey")),
                _lpad2(F.col("n_nationkey")),
                F.expr("right(lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), 2)"),
            ).alias("kode"),
            F.col("c_name").alias("nama"),
            F.lit(3).alias("level"),
            F.col("c_custkey").cast("long").alias("src_key"),
        )
    )

    o4 = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.concat_ws(
                ".",
                _lpad2(F.col("r_regionkey")),
                _lpad2(F.col("n_nationkey")),
                F.expr("right(lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), 2)"),
                F.concat(
                    F.lit("2"), _lpad3(F.col("o_orderkey") % 1000)
                ),
            ).alias("kode"),
            F.concat(F.lit("Order#"), F.col("o_orderkey").cast("string")).alias(
                "nama"
            ),
            F.lit(4).alias("level"),
            F.col("o_orderkey").cast("long").alias("src_key"),
        )
    )

    return l1.unionAll(n2).unionAll(c3).unionAll(o4)


# ---------------------------------------------------------------------------
# Shared hierarchy dim — DuckDB oracle CTE (same rules in ANSI SQL)
# ---------------------------------------------------------------------------

_WILAYAH_CTE = """
WITH l1 AS (
  SELECT lpad(CAST(r_regionkey AS VARCHAR), 2, '0') AS kode,
         r_name AS nama, 1 AS level,
         CAST(r_regionkey AS BIGINT) AS src_key
  FROM region
),
l2 AS (
  SELECT lpad(CAST(r_regionkey AS VARCHAR), 2, '0') || '.' ||
         lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS kode,
         n_name AS nama, 2 AS level,
         CAST(n_nationkey AS BIGINT) AS src_key
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
l3 AS (
  SELECT lpad(CAST(r_regionkey AS VARCHAR), 2, '0') || '.' ||
         lpad(CAST(n_nationkey AS VARCHAR), 2, '0') || '.' ||
         right(lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), 2) AS kode,
         c_name AS nama, 3 AS level,
         CAST(c_custkey AS BIGINT) AS src_key
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
l4 AS (
  SELECT lpad(CAST(r_regionkey AS VARCHAR), 2, '0') || '.' ||
         lpad(CAST(n_nationkey AS VARCHAR), 2, '0') || '.' ||
         right(lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), 2) || '.' ||
         '2' || lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS kode,
         'Order#' || CAST(o_orderkey AS VARCHAR) AS nama, 4 AS level,
         CAST(o_orderkey AS BIGINT) AS src_key
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
wilayah AS (
  SELECT * FROM l1 UNION ALL SELECT * FROM l2
  UNION ALL SELECT * FROM l3 UNION ALL SELECT * FROM l4
)
"""


# ---------------------------------------------------------------------------
# P1 — code derivation (the core ETL transform, SURVEY §1.4)
# ---------------------------------------------------------------------------


@register(
    "wilayah_code_derivation",
    oracle=_WILAYAH_CTE
    + """
SELECT kode, nama, level, src_key
FROM wilayah
ORDER BY level, src_key
""",
    tags=("wilayah", "project", "p1"),
    description="P1 dotted-code derivation incl. last-2 + literal-'2' rules",
)
def wilayah_code_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full derived hierarchy: concat_ws/lpad/right/'2'-prefix —
    reference transformProperties (server.js:160-185) re-expressed as
    pure Catalyst column expressions (no UDFs)."""
    return wilayah_dim(spark, sf_dir).orderBy("level", "src_key")


# ---------------------------------------------------------------------------
# F1 ∧ F2 — level + key-prefix fetch (children-of)
# ---------------------------------------------------------------------------


@register(
    "wilayah_prefix_children",
    oracle=_WILAYAH_CTE
    + """
SELECT kode, nama, level
FROM wilayah
WHERE level = 3 AND kode LIKE '02.07%'
ORDER BY kode, src_key
""",
    tags=("wilayah", "filter", "f1", "f2"),
    description="F1∧F2: level equality + code-prefix children fetch",
)
def wilayah_prefix_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fetchGeoData(level, prefix) shape (reference server.js:415-419):
    level equality + startswith prefix — both Catalyst-pushable."""
    return (
        wilayah_dim(spark, sf_dir)
        .filter((F.col("level") == 3) & F.col("kode").startswith("02.07"))
        .select("kode", "nama", "level", "src_key")
        .orderBy("kode", "src_key")
        .drop("src_key")
    )


# ---------------------------------------------------------------------------
# F3 + O1 + O2 — search (case-insensitive substring, sorted, top-10)
# ---------------------------------------------------------------------------


@register(
    "wilayah_search_topk",
    oracle=_WILAYAH_CTE
    + """
SELECT kode AS id, nama AS name, level
FROM wilayah
WHERE lower(nama) LIKE '%00012%'
ORDER BY level, nama, kode
LIMIT 10
""",
    tags=("wilayah", "filter", "sort", "topk", "f3"),
    description="F3+O1+O2: ilike substring search, (level,name) sort, top-10",
)
def wilayah_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_wilayah (reference init_db.sql:87-106 /
    server.js:323-329): case-insensitive substring on name, ordered
    (level, name), LIMIT 10 → TakeOrderedAndProject."""
    return (
        wilayah_dim(spark, sf_dir)
        .filter(F.lower(F.col("nama")).contains("00012"))
        .select(
            F.col("kode").alias("id"), F.col("nama").alias("name"), "level",
            "kode",
        )
        .orderBy("level", "name", "kode")
        .limit(10)
        .drop("kode")
    )


# ---------------------------------------------------------------------------
# A1 — per-level counts under a prefix (status endpoint)
# ---------------------------------------------------------------------------


@register(
    "wilayah_status_counts",
    oracle=_WILAYAH_CTE
    + """
SELECT level, COUNT(*) AS count
FROM wilayah
WHERE kode LIKE '02%'
GROUP BY level
ORDER BY level
""",
    tags=("wilayah", "agg", "a1"),
    description="A1: GROUP BY level COUNT(*) under code prefix",
)
def wilayah_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status counts (reference server.js:256-259 /
    init_db.sql:109-120)."""
    return (
        wilayah_dim(spark, sf_dir)
        .filter(F.col("kode").startswith("02"))
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# A3 — count pivot into per-level named columns
# ---------------------------------------------------------------------------


@register(
    "wilayah_counts_pivot",
    oracle=_WILAYAH_CTE
    + """
SELECT
  CAST(COUNT(*) FILTER (WHERE level = 1) AS BIGINT) AS provinsi,
  CAST(COUNT(*) FILTER (WHERE level = 2) AS BIGINT) AS kabupaten,
  CAST(COUNT(*) FILTER (WHERE level = 3) AS BIGINT) AS kecamatan,
  CAST(COUNT(*) FILTER (WHERE level = 4) AS BIGINT) AS kelurahan
FROM wilayah
""",
    tags=("wilayah", "agg", "pivot", "a3"),
    description="A3: per-level counts folded into one envelope row",
)
def wilayah_counts_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's JS fold of {level,count} rows into
    {provinsi,kabupaten,kecamatan,kelurahan} (server.js:261-268) —
    one conditional-aggregation pass, no fold loop."""
    w = wilayah_dim(spark, sf_dir)

    def cnt(lvl: int):
        return F.count(F.when(F.col("level") == lvl, 1))

    return w.agg(
        cnt(1).alias("provinsi"),
        cnt(2).alias("kabupaten"),
        cnt(3).alias("kecamatan"),
        cnt(4).alias("kelurahan"),
    )


# ---------------------------------------------------------------------------
# §2.7 — code-length dispatch (hierarchical fetch strategy)
# ---------------------------------------------------------------------------


@register(
    "wilayah_length_dispatch",
    oracle=_WILAYAH_CTE
    + """
SELECT part, kode, nama, level FROM (
  SELECT 'self' AS part, kode, nama, level FROM wilayah
  WHERE level = 2 AND kode = '02.07'
  UNION ALL
  SELECT 'kecamatan' AS part, kode, nama, level FROM wilayah
  WHERE level = 3 AND kode LIKE '02.07%'
  UNION ALL
  SELECT 'kelurahan' AS part, kode, nama, level FROM wilayah
  WHERE level = 4 AND kode LIKE '02.07%'
) t
ORDER BY part, kode, nama
""",
    tags=("wilayah", "dispatch", "union"),
    description="§2.7 length-5 dispatch: self + kecamatan + kelurahan fetches",
)
def wilayah_length_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-length dispatch (reference server.js:424-476): a length-5
    kabupaten code fetches (2,self)+(3,prefix)+(4,prefix). One scan,
    three tagged filters, unioned."""
    w = wilayah_dim(spark, sf_dir)
    code = "02.07"

    def fetch(part: str, lvl: int, exact: bool) -> DataFrame:
        pred = (F.col("level") == lvl) & (
            (F.col("kode") == code) if exact else F.col("kode").startswith(code)
        )
        return w.filter(pred).select(
            F.lit(part).alias("part"), "kode", "nama", "level"
        )

    return (
        fetch("self", 2, True)
        .unionAll(fetch("kecamatan", 3, False))
        .unionAll(fetch("kelurahan", 4, False))
        .orderBy("part", "kode", "nama")
    )


# ---------------------------------------------------------------------------
# S9 — upsert last-wins rewrite (pure-Parquet MERGE substitute)
# ---------------------------------------------------------------------------


@register(
    "wilayah_upsert_last_wins",
    oracle=_WILAYAH_CTE
    + """
SELECT kode, nama, level, n_versions FROM (
  SELECT kode, nama, level,
         ROW_NUMBER() OVER (PARTITION BY kode ORDER BY src_key DESC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY kode) AS BIGINT) AS n_versions
  FROM wilayah
  WHERE level = 3
) t
WHERE rn = 1
ORDER BY kode
""",
    tags=("wilayah", "upsert", "window", "s9"),
    description="S9 upsert: last-writer-wins dedup via ranking window",
)
def wilayah_upsert_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's INSERT..ON CONFLICT DO UPDATE (server.js:90-98)
    re-expressed for Parquet: rank versions per key by an explicit
    recency tiebreaker, keep rank 1. One shuffle on the key — the
    same plan a Delta MERGE would shuffle anyway."""
    from pyspark.sql.window import Window

    w3 = wilayah_dim(spark, sf_dir).filter(F.col("level") == 3)
    byk = Window.partitionBy("kode")
    return (
        w3.withColumn(
            "rn", F.row_number().over(byk.orderBy(F.col("src_key").desc()))
        )
        .withColumn("n_versions", F.count(F.lit(1)).over(byk))
        .filter(F.col("rn") == 1)
        .select("kode", "nama", "level", "n_versions")
        .orderBy("kode")
    )


# ---------------------------------------------------------------------------
# EXT — explicit parent-child prefix join (SURVEY §2.7 note / §2.11)
# ---------------------------------------------------------------------------


@register(
    "wilayah_parent_child_join",
    oracle=_WILAYAH_CTE
    + """
SELECT c.kode AS child_kode, p.kode AS parent_kode, p.nama AS parent_nama
FROM (SELECT * FROM wilayah WHERE level = 2) c
JOIN (SELECT * FROM wilayah WHERE level = 1) p
  ON substr(c.kode, 1, 2) = p.kode
ORDER BY child_kode
""",
    tags=("wilayah", "join", "hierarchy"),
    description="hierarchy as relational prefix join (child.substr = parent)",
)
def wilayah_parent_child_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational form of the reference's substring parent lookup
    (server.js:455,470): equi-join on substring(child,1,len) so
    Catalyst can still hash-partition — NOT a theta join."""
    w = wilayah_dim(spark, sf_dir)
    child = w.filter(F.col("level") == 2).select(F.col("kode").alias("child_kode"))
    parent = w.filter(F.col("level") == 1).select(
        F.col("kode").alias("parent_kode"), F.col("nama").alias("parent_nama")
    )
    return (
        child.join(
            F.broadcast(parent),
            F.substring(F.col("child_kode"), 1, 2) == F.col("parent_kode"),
        )
        .orderBy("child_kode")
    )


# ---------------------------------------------------------------------------
# P3/A4 — envelope assembly (FeatureCollection analog, hash-stable form)
# ---------------------------------------------------------------------------


@register(
    "wilayah_envelope_children",
    oracle=_WILAYAH_CTE
    + """
SELECT substr(kode, 1, 5) AS kabupaten_kode,
       CAST(COUNT(*) AS BIGINT) AS n_children,
       string_agg(nama, ',' ORDER BY nama) AS child_names
FROM wilayah
WHERE level = 3
GROUP BY substr(kode, 1, 5)
ORDER BY kabupaten_kode
""",
    tags=("wilayah", "agg", "collect", "p3", "a4"),
    description="P3/A4: per-parent child collection (envelope assembly)",
)
def wilayah_envelope_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toFeatureCollection's gather (reference server.js:486-506):
    children collected per parent — here as a sorted joined string so
    the value-hash is order-stable across engines."""
    w3 = wilayah_dim(spark, sf_dir).filter(F.col("level") == 3)
    return (
        w3.groupBy(F.substring("kode", 1, 5).alias("kabupaten_kode"))
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.array_join(F.array_sort(F.collect_list("nama")), ",").alias(
                "child_names"
            ),
        )
        .orderBy("kabupaten_kode")
    )


# ---------------------------------------------------------------------------
# F5/S11 — seed-on-empty existence probe
# ---------------------------------------------------------------------------


@register(
    "wilayah_seed_probe",
    oracle=_WILAYAH_CTE
    + """
SELECT
  CAST(COUNT(*) FILTER (WHERE level = 1) > 0 AS BOOLEAN) AS seeded,
  CAST(COUNT(*) AS BIGINT) AS total_rows
FROM wilayah
""",
    tags=("wilayah", "filter", "exists", "f5", "s11"),
    description="F5/S11: seed-on-empty existence probe",
)
def wilayah_seed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seedInitialData's guard (reference server.js:125-126): does a
    level-1 row exist? The engine's bootstrap runs ingest only if
    this is false."""
    return wilayah_dim(spark, sf_dir).agg(
        (F.count(F.when(F.col("level") == 1, 1)) > 0).alias("seeded"),
        F.count(F.lit(1)).alias("total_rows"),
    )


# ---------------------------------------------------------------------------
# P10 + P11 + P12 — level labels, byte humanization, null-guard defaults
# (client-side compute in the reference: app.js:398-402, 247-254, 230-235)
# ---------------------------------------------------------------------------

_LABELS_ORACLE = (
    _WILAYAH_CTE
    + """,
per_level AS (
  SELECT level,
         CASE level WHEN 1 THEN 'Provinsi'
                    WHEN 2 THEN 'Kabupaten/Kota'
                    WHEN 3 THEN 'Kecamatan'
                    ELSE 'Kelurahan/Desa' END AS label,
         COUNT(*) AS n_rows,
         CAST(SUM(length(COALESCE(nama, ''))) AS BIGINT) AS name_bytes
  FROM wilayah GROUP BY level
)
SELECT level, label, n_rows, name_bytes,
       ROUND(name_bytes / POWER(1024.0,
             floor(ln(GREATEST(name_bytes, 1)) / ln(1024.0))), 2) AS size_value,
       ['B','KB','MB','GB'][CAST(
             floor(ln(GREATEST(name_bytes, 1)) / ln(1024.0)) AS INTEGER) + 1]
         AS size_unit
FROM per_level ORDER BY level
"""
)


@register(
    "wilayah_level_labels_sizes",
    oracle=_LABELS_ORACLE,
    tags=("wilayah", "project", "p10", "p11", "p12"),
    description="level→label map + byte humanization (log/pow/floor)",
)
def wilayah_level_labels_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 (conditional level→label, reference app.js:398-402), P11
    (byte humanization floor(log(b)/log(1024)) + pow, app.js:247-254)
    and P12 (coalesce null-guard, app.js:230-235) in one projection
    over the hierarchy dim."""
    dim = wilayah_dim(spark, sf_dir)
    per_level = dim.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length(F.coalesce("nama", F.lit("")))).alias("name_bytes"),
    )
    label = (
        F.when(F.col("level") == 1, F.lit("Provinsi"))
        .when(F.col("level") == 2, F.lit("Kabupaten/Kota"))
        .when(F.col("level") == 3, F.lit("Kecamatan"))
        .otherwise(F.lit("Kelurahan/Desa"))
    )
    i = F.floor(
        F.log(F.greatest(F.col("name_bytes"), F.lit(1)).cast("double"))
        / F.log(F.lit(1024.0))
    )
    return per_level.select(
        "level",
        label.alias("label"),
        "n_rows",
        "name_bytes",
        F.round(
            F.col("name_bytes") / F.pow(F.lit(1024.0), i), 2
        ).alias("size_value"),
        F.element_at(
            F.array(F.lit("B"), F.lit("KB"), F.lit("MB"), F.lit("GB")),
            (i + 1).cast("int"),
        ).alias("size_unit"),
    ).orderBy("level")


# ---------------------------------------------------------------------------
# G5 + G6 — GeoJSON geometry round-trip + envelope (bounds) aggregate
# ---------------------------------------------------------------------------

_ENVELOPE_ORACLE = """
WITH feat AS (
  SELECT c_mktsegment AS segment,
         format('{{"type":"Polygon","coordinates":[[[{0},{1}],[{2},{1}],[{2},{3}],[{0},{3}],[{0},{1}]]]}}',
                CAST(c_custkey % 360 AS BIGINT) - 180,
                CAST(c_custkey % 180 AS BIGINT) - 90,
                CAST(c_custkey % 360 AS BIGINT) - 179,
                CAST(c_custkey % 180 AS BIGINT) - 89) AS geojson
  FROM customer
),
parsed AS (
  SELECT segment,
         flatten(CAST(json_extract(geojson, '$.coordinates')
                      AS DOUBLE[][][])) AS pts
  FROM feat
)
SELECT segment,
       MIN(list_min(list_transform(pts, p -> p[1]))) AS min_lon,
       MIN(list_min(list_transform(pts, p -> p[2]))) AS min_lat,
       MAX(list_max(list_transform(pts, p -> p[1]))) AS max_lon,
       MAX(list_max(list_transform(pts, p -> p[2]))) AS max_lat,
       CAST(COUNT(*) AS BIGINT) AS n_features
FROM parsed GROUP BY segment ORDER BY segment
"""

_POLY_FMT = (
    '{"type":"Polygon","coordinates":'
    "[[[%d,%d],[%d,%d],[%d,%d],[%d,%d],[%d,%d]]]}"
)


@register(
    "geo_envelope_aggregate",
    oracle=_ENVELOPE_ORACLE,
    tags=("wilayah", "geometry", "json", "agg", "g5", "g6"),
    description="G5/G6: GeoJSON serialize/parse round-trip + bbox aggregate",
)
def geo_envelope_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one spatial aggregate (G6): the client folds
    every feature's bounds into a single envelope to fit the map
    (public/app.js:220,241-244), over GeoJSON produced by
    ST_AsGeoJSON (G5, server.js:416). Here: serialize a polygon per
    row, parse it back with from_json (the stored-as-GeoJSON-string
    design of SURVEY §1.5), and fold per-feature bounds into a
    per-segment envelope. Array higher-order functions keep the
    coordinate math inside codegen — no explode row-blowup, and the
    aggregate is a plain hash-agg (map-side partial min/max).
    """
    c = load_table(spark, sf_dir, "customer")
    x0 = (F.col("c_custkey") % 360 - 180).cast("long")
    y0 = (F.col("c_custkey") % 180 - 90).cast("long")
    x1 = x0 + 1
    y1 = y0 + 1
    feat = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.format_string(
            _POLY_FMT, x0, y0, x1, y0, x1, y1, x0, y1, x0, y0
        ).alias("geojson"),
    )
    parsed = feat.select(
        "segment",
        F.flatten(
            F.from_json(
                "geojson",
                "type STRING, coordinates ARRAY<ARRAY<ARRAY<DOUBLE>>>",
            )["coordinates"]
        ).alias("pts"),
    )
    xs = F.transform(F.col("pts"), lambda p: p[0])
    ys = F.transform(F.col("pts"), lambda p: p[1])
    return (
        parsed.groupBy("segment")
        .agg(
            F.min(F.array_min(xs)).alias("min_lon"),
            F.min(F.array_min(ys)).alias("min_lat"),
            F.max(F.array_max(xs)).alias("max_lon"),
            F.max(F.array_max(ys)).alias("max_lat"),
            F.count(F.lit(1)).alias("n_features"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Recursive hierarchy walk (Spark 4 WITH RECURSIVE through the SQL surface)
# ---------------------------------------------------------------------------

# Both engines walk the same deduplicated (kode, level) tree: the raw
# derivation carries deliberate kode collisions (last-2 rule), so the
# base relation is DISTINCT codes; parentage is the string prefix, as
# in the reference (server.js:455,470 — substring parent lookup).
_RECURSIVE_WALK = """
, base AS (SELECT DISTINCT kode, level FROM {src})
, walk AS (
  SELECT kode, level, 1 AS depth, kode AS path
  FROM base WHERE kode = '02'
  UNION ALL
  SELECT c.kode, c.level, w.depth + 1, w.path || '>' || c.kode
  FROM base c JOIN walk w
    ON c.level = w.level + 1
   AND substring(c.kode, 1, length(w.kode)) = w.kode
)
SELECT kode, level, depth, path FROM walk ORDER BY kode
"""


@register(
    "wilayah_recursive_descendants",
    oracle="WITH RECURSIVE "
    + _WILAYAH_CTE.replace("WITH ", "", 1)
    + _RECURSIVE_WALK.format(src="wilayah"),
    tags=("wilayah", "recursive-cte", "sql", "hierarchy"),
    description="recursive CTE: all descendants of a root via prefix parentage",
)
def wilayah_recursive_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hierarchy walk the reference hardcodes as a code-length
    dispatch (SURVEY §2.7), generalized: WITH RECURSIVE (Spark 4)
    descends from the root to every descendant, carrying depth and
    path. Each recursion step is one equi-join on the parent prefix;
    the tree is 4 levels deep, so the plan is 4 joined iterations —
    at 100 TB each iteration is a broadcast of the (small) frontier
    against the code dim."""
    wilayah_dim(spark, sf_dir).createOrReplaceTempView("wilayah_v")
    return spark.sql(
        "WITH RECURSIVE x AS (SELECT 1)"
        + _RECURSIVE_WALK.format(src="wilayah_v")
    )


# ---------------------------------------------------------------------------
# SQL-defined UDFs (Spark 4 CREATE FUNCTION ... RETURN expr)
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = (
    _WILAYAH_CTE
    + """
, base AS (SELECT DISTINCT kode, level FROM wilayah)
SELECT kode, level,
  CASE level WHEN 1 THEN 'Provinsi' WHEN 2 THEN 'Kabupaten/Kota'
             WHEN 3 THEN 'Kecamatan' ELSE 'Kelurahan/Desa' END AS label,
  CASE WHEN instr(kode, '.') = 0 THEN NULL
       ELSE left(kode, length(kode) - instr(reverse(kode), '.')) END AS parent
FROM base ORDER BY kode
"""
)


@register(
    "wilayah_sql_udf_labels",
    oracle=_SQL_UDF_ORACLE,
    tags=("wilayah", "sql-udf", "p10"),
    description="SQL-defined scalar UDFs: level label + parent-kode",
)
def wilayah_sql_udf_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's extensibility story is SQL-defined stored
    functions (init_db.sql, SURVEY §2.8); Spark 4's analog is
    CREATE FUNCTION ... RETURN <expr> — a catalog-registered scalar
    function Catalyst INLINES into the plan (unlike a Python UDF,
    nothing leaves the JVM and codegen sees through it). The level
    label (P10) and parent-kode (P8 generalized to any level) ship
    as SQL UDFs; the oracle inlines the identical expressions."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION wilayah_label(l INT) "
        "RETURNS STRING RETURN "
        "CASE l WHEN 1 THEN 'Provinsi' WHEN 2 THEN 'Kabupaten/Kota' "
        "WHEN 3 THEN 'Kecamatan' ELSE 'Kelurahan/Desa' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION parent_kode(k STRING) "
        "RETURNS STRING RETURN "
        "CASE WHEN instr(k, '.') = 0 THEN NULL "
        "ELSE left(k, length(k) - instr(reverse(k), '.')) END"
    )
    wilayah_dim(spark, sf_dir).createOrReplaceTempView("wilayah_v")
    return spark.sql(
        """
        WITH base AS (SELECT DISTINCT kode, level FROM wilayah_v)
        SELECT kode, level,
               wilayah_label(level) AS label,
               parent_kode(kode)    AS parent
        FROM base ORDER BY kode
        """
    )


# ---------------------------------------------------------------------------
# Hierarchy integrity audit (orphan detection)
# ---------------------------------------------------------------------------

_ORPHAN_ORACLE = (
    _WILAYAH_CTE
    + """
, base AS (SELECT DISTINCT kode, level FROM wilayah),
parents AS (
  SELECT kode, level,
    left(kode, length(kode) - instr(reverse(kode), '.')) AS parent_kode
  FROM base WHERE level > 1
)
SELECT p.level,
  CAST(COUNT(*) AS BIGINT) AS n_nodes,
  CAST(SUM(CASE WHEN b.kode IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM parents p
LEFT JOIN base b ON p.parent_kode = b.kode AND b.level = p.level - 1
GROUP BY p.level
ORDER BY p.level
"""
)


@register(
    "wilayah_orphan_audit",
    oracle=_ORPHAN_ORACLE,
    tags=("wilayah", "integrity", "anti", "audit"),
    description="hierarchy integrity: per-level orphan (missing-parent) counts",
)
def wilayah_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit for a key-encoded hierarchy: every
    non-root code must have its parent prefix present one level up —
    the check a prefix-keyed table needs because nothing enforces it
    (the reference's PostGIS schema had no FK either; SURVEY §1.1).
    A left join on the derived parent key, counted per level; at
    scale both sides hash on the short code string. Zero orphans on
    the derived hierarchy doubles as a generator sanity check."""
    base = (
        wilayah_dim(spark, sf_dir).select("kode", "level").distinct()
    )
    parents = base.filter(F.col("level") > 1).select(
        "kode",
        "level",
        F.expr(
            "left(kode, length(kode) - instr(reverse(kode), '.'))"
        ).alias("parent_kode"),
    )
    b = base.select(
        F.col("kode").alias("b_kode"), F.col("level").alias("b_level")
    )
    return (
        parents.join(
            b,
            (parents.parent_kode == b.b_kode)
            & (b.b_level == parents.level - 1),
            "left",
        )
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(
                F.when(F.col("b_kode").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# Commit log + time travel through the gate (S9 storage layer)
# ---------------------------------------------------------------------------


@register(
    "wilayah_commit_log_time_travel",
    oracle="""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS low5,
         CAST(SUM(CASE WHEN n_nationkey % 7 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS del7,
         CAST(SUM(CASE WHEN n_nationkey % 5 = 0 AND n_nationkey % 7 <> 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_after
  FROM nation
)
SELECT * FROM (
  SELECT 0 AS version, 'merge' AS action, total AS n_rows,
         CAST(0 AS BIGINT) AS n_lower FROM m
  UNION ALL
  SELECT 1, 'merge', total, low5 FROM m
  UNION ALL
  SELECT 2, 'delete', total - del7, low_after FROM m
) ORDER BY version
""",
    tags=("wilayah", "storage", "commit-log", "time-travel"),
    description="commit-log snapshots: row counts per version via time travel",
)
def wilayah_commit_log_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The storage layer's version history as observable output: a
    managed table built from the nation dim goes through merge →
    targeted merge → targeted delete (three commits), then every
    version is read back THROUGH THE LOG (read_table_version resolves
    live + retired files) and profiled. The oracle derives the same
    per-version row/lowercased counts relationally — a hash match
    certifies that snapshot reads return exactly the pre-mutation
    states, i.e. that the commit log actually isolates versions."""
    import datetime as _dt
    import os
    import shutil
    import tempfile
    import uuid

    from wilayah_aceh_etl_spark.operators import wilayah as W

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    clock = _dt.datetime(2026, 1, 1)
    kode = F.concat_ws(
        ".", _lpad2(F.col("r_regionkey")), _lpad2(F.col("n_nationkey"))
    )
    base = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            kode.alias("kode_wilayah_kemendagri"),
            F.col("n_name").alias("nama_wilayah_kemendagri"),
            F.lit(2).alias("level"),
            F.lit("{}").alias("geometry"),
            F.lit(clock.isoformat()).cast("timestamp").alias("created_at"),
            F.lit(clock.isoformat()).cast("timestamp").alias("updated_at"),
            F.col("n_nationkey").alias("_nk"),
        )
    )
    path = os.path.join(
        tempfile.gettempdir(), f"wilayah_spark_tt_{uuid.uuid4().hex[:10]}"
    )
    try:
        W.upsert(spark, path, base.drop("_nk"), clock=clock)  # v0
        lowered = (
            base.filter(F.col("_nk") % 5 == 0)
            .withColumn(
                "nama_wilayah_kemendagri",
                F.lower("nama_wilayah_kemendagri"),
            )
            .drop("_nk")
        )
        W.upsert(spark, path, lowered, clock=clock)  # v1
        victims = base.filter(F.col("_nk") % 7 == 0).select(
            "kode_wilayah_kemendagri", "level"
        )
        W.delete_keys(spark, path, victims)  # v2
        rows = []
        for h in W.table_history(path):
            snap = W.read_table_version(spark, path, h["version"])
            profile = snap.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    (
                        F.col("nama_wilayah_kemendagri")
                        == F.lower("nama_wilayah_kemendagri")
                    ).cast("long")
                )
                .cast("long")
                .alias("n_lower"),
            ).head()
            rows.append(
                (h["version"], h["action"], profile.n_rows, profile.n_lower)
            )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(
        spark, rows, "version int, action string, n_rows long, n_lower long"
    ).orderBy("version")
