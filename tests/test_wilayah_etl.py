"""Golden ETL tests over the real reference corpus
(/root/reference/geojson, read-only) — invariants verified during the
survey (SURVEY §5.1): feature counts, code formats, derivation rules,
geometry normalization, upsert idempotence, endpoint parity."""

from __future__ import annotations

import datetime
import json
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import split_layout
from wilayah_aceh_etl_spark.functions.geometry import (
    bounds_agg,
    normalize_geojson_str,
    vertex_count,
)
from wilayah_aceh_etl_spark.operators import wilayah as W
from wilayah_aceh_etl_spark.sources.geojson import read_features

GEOJSON_DIR = "/root/reference/geojson"
CLOCK = datetime.datetime(2026, 1, 1, 0, 0, 0)

CODE_RE = re.compile(r"^\d{2}(\.\d{2}(\.\d{2}(\.2\d{3})?)?)?$")


@pytest.fixture(scope="module")
def raw(spark):
    return read_features(spark, GEOJSON_DIR).cache()


@pytest.fixture(scope="module")
def table_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wilayah") / "m_wilayah_poligon")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    return path


def test_corpus_totals(raw):
    assert raw.count() == 388
    counts = {r.level: r.n for r in raw.groupBy("level").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 1, 2: 18, 3: 135, 4: 234}


def test_code_derivation_rules(raw):
    rows = raw.select("kode_wilayah_kemendagri", "level").collect()
    for r in rows:
        assert CODE_RE.match(r.kode_wilayah_kemendagri), r
        assert len(r.kode_wilayah_kemendagri) == {1: 2, 2: 5, 3: 8, 4: 13}[r.level]
    # level-4 last segment starts with literal '2' (server.js:178-180)
    l4 = [r.kode_wilayah_kemendagri for r in rows if r.level == 4]
    assert l4 and all(k.split(".")[-1].startswith("2") for k in l4)
    # zero slice(-2) collisions at level 3 (survey-verified)
    l3 = [r.kode_wilayah_kemendagri for r in rows if r.level == 3]
    assert len(set(l3)) == 135


def test_ingest_table_layout(spark, table_path):
    t = W.load_wilayah(spark, table_path)
    assert t.count() == 388  # corpus has no duplicate codes
    assert set(t.columns) == set(W.TABLE_COLUMNS)
    # partitioned by level on disk
    import os

    assert any(d.startswith("level=") for d in os.listdir(table_path))


def test_geometry_normalized(spark, table_path):
    t = W.load_wilayah(spark, table_path)
    geoms = t.select("geometry").limit(20).collect()
    for r in geoms:
        g = json.loads(r.geometry)
        assert g["type"] == "MultiPolygon"
        pt = g["coordinates"][0][0][0]
        assert len(pt) == 2  # force-2D
    # simplification reduced vertices vs raw
    raw_v = (
        read_features(spark, GEOJSON_DIR, "11_")
        .select(F.sum(vertex_count(F.col("geometry_json"))).alias("v"))
        .collect()[0]
        .v
    )
    simp_v = (
        t.filter("level = 1")
        .select(F.sum(vertex_count(F.col("geometry"))).alias("v"))
        .collect()[0]
        .v
    )
    assert simp_v < raw_v


def test_upsert_idempotent(spark, table_path):
    before = sorted(
        W.load_wilayah(spark, table_path)
        .select("kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "geometry")
        .collect()
    )
    W.sync(spark, GEOJSON_DIR, table_path, code="11", clock=CLOCK)
    after = sorted(
        W.load_wilayah(spark, table_path)
        .select("kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "geometry")
        .collect()
    )
    assert before == after


def test_upsert_preserves_created_at(spark, table_path):
    later = datetime.datetime(2026, 6, 1)
    W.sync(spark, GEOJSON_DIR, table_path, code="11.01", clock=later)
    t = W.load_wilayah(spark, table_path)
    row = t.filter(F.col("kode_wilayah_kemendagri") == "11.01").collect()[0]
    assert row.created_at == CLOCK  # preserved
    assert row.updated_at == later  # bumped


def test_search_contract(spark, table_path):
    t = W.load_wilayah(spark, table_path)
    rows = W.search(t, "aceh").collect()
    assert 0 < len(rows) <= 10
    assert all("aceh" in r.name.lower() for r in rows)
    # sorted by (level, name)
    keys = [(r.level, r.name) for r in rows]
    assert keys == sorted(keys)
    # min-length guard
    assert W.search(t, "ac").count() == 0


def test_status_counts(spark, table_path):
    row = W.status_counts(W.load_wilayah(spark, table_path)).collect()[0]
    assert row.available
    assert (row.provinsi, row.kabupaten, row.kecamatan, row.kelurahan) == (
        1,
        18,
        135,
        234,
    )


@pytest.mark.parametrize(
    "code,expected_parts",
    [
        ("11", {"provinsi", "kabupaten"}),
        ("11.01", {"kabupaten", "kecamatan", "kelurahan"}),
        ("11.01.01", {"kabupaten", "kecamatan", "kelurahan"}),
        ("11.73.01.2001", {"kecamatan", "kelurahan"}),
    ],
)
def test_geojson_envelope_dispatch(spark, table_path, code, expected_parts):
    t = W.load_wilayah(spark, table_path)
    rows = W.geojson_envelope(t, code).collect()
    parts = {r.part for r in rows}
    assert parts <= expected_parts
    for r in rows:
        fc = json.loads(r.feature_collection)
        assert fc["type"] == "FeatureCollection"
        assert len(fc["features"]) == r.n_features
        f = fc["features"][0]
        assert set(f) == {"type", "properties", "geometry"}
        assert set(f["properties"]) == {"name", "id"}


def test_file_envelope(spark):
    rows = W.file_envelope(spark, GEOJSON_DIR, "11.01").collect()
    assert {r.source_file for r in rows} == {
        "11.01_Aceh_Selatan.geojson",
        "11.01_kecamatan.geojson",
    }
    assert all(r.file_size > 0 and r.n_features > 0 for r in rows)


def test_seed_if_empty(spark, tmp_path):
    path = str(tmp_path / "seeded")
    assert W.seed_if_empty(spark, GEOJSON_DIR, path, clock=CLOCK) is True
    t = W.load_wilayah(spark, path)
    assert t.count() == 1
    assert t.collect()[0].level == 1
    # second call is a no-op
    assert W.seed_if_empty(spark, GEOJSON_DIR, path, clock=CLOCK) is False


def test_bounds_aggregate(spark, table_path):
    t = W.load_wilayah(spark, table_path).filter("level = 1")
    b = bounds_agg(t).collect()[0]
    # Aceh bbox sanity (northern Sumatra)
    assert 94 < b.min_lon < 96 and 97 < b.max_lon < 99
    assert 1.5 < b.min_lat < 3 and 5 < b.max_lat < 7


def test_malformed_geometry_null_path():
    assert normalize_geojson_str("not json") is None
    assert normalize_geojson_str('{"type":"Point","coordinates":[1,2]}') is None
    out = normalize_geojson_str(
        '{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}'
    )
    assert json.loads(out)["type"] == "MultiPolygon"


def test_corrupt_geojson_file_skipped_not_fatal(spark, tmp_path):
    """SURVEY §2.9: per-file read errors are logged and skipped in the
    reference (server.js:555-557); here the PERMISSIVE schema read
    yields null `features` for the corrupt file and explode drops it —
    the good file still ingests."""
    import json
    import shutil

    d = tmp_path / "geo"
    d.mkdir()
    good = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"kd_propinsi": "11", "nm_propinsi": "Aceh"},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [[[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]],
                },
            }
        ],
    }
    (d / "11_Aceh.geojson").write_text(json.dumps(good))
    (d / "12_Broken.geojson").write_text("{not valid json at all")

    from wilayah_aceh_etl_spark.sources.geojson import read_features

    rows = read_features(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["kode_wilayah_kemendagri"] == "11"


def test_envelope_auto_dual_source(spark, table_path, tmp_path):
    """§2.9: one operator serves from the table when populated, from
    raw files when not (the reference's DB-down fallback)."""
    from wilayah_aceh_etl_spark.operators.wilayah import envelope_auto

    geojson_dir = "/root/reference/geojson"
    # populated table → DB-style envelope (has feature_collection col)
    db = envelope_auto(spark, table_path, geojson_dir, "11")
    assert "feature_collection" in db.columns and db.count() > 0
    # missing table → file-style envelope (has source_file col)
    fb = envelope_auto(spark, str(tmp_path / "nope"), geojson_dir, "11")
    assert "source_file" in fb.columns and fb.count() > 0


def test_stored_function_twins(spark, table_path):
    """§2.8: every plpgsql stored function has a DataFrame twin."""
    from wilayah_aceh_etl_spark.operators.wilayah import (
        get_wilayah_by_level,
        get_wilayah_counts,
        get_wilayah_geojson,
        load_wilayah,
    )

    t = load_wilayah(spark, table_path)

    rows = get_wilayah_geojson(t, "11.01").collect()
    assert rows and all(r["id"].startswith("11.01") for r in rows)
    assert set(rows[0].asDict()) == {"id", "name", "level", "geom"}

    by_level = get_wilayah_by_level(t, 2, "11").collect()
    assert by_level and all(len(r["id"]) == 5 for r in by_level)
    # null parent → no prefix constraint (F4 null escape)
    assert len(get_wilayah_by_level(t, 2).collect()) >= len(by_level)

    counts = {r["level"]: r["count"] for r in get_wilayah_counts(t).collect()}
    assert counts and all(v > 0 for v in counts.values())
    assert sum(counts.values()) == t.count()


def _partition_file_stats(table_path):
    """{level_dir: {file: (inode, mtime_ns, size)}} for every level=N dir."""
    import os

    stats = {}
    for d in os.listdir(table_path):
        full = os.path.join(table_path, d)
        if not (d.startswith("level=") and os.path.isdir(full)):
            continue
        stats[d] = {
            f: (st.st_ino, st.st_mtime_ns, st.st_size)
            for f in os.listdir(full)
            for st in [os.stat(os.path.join(full, f))]
        }
    return stats


def test_upsert_partition_scoped_rewrite(spark, tmp_path):
    """A batch touching only level 4 must leave level=1/2/3 partition
    files untouched on disk (same inode/mtime/size) — the MERGE
    rewrites only the partitions it can conflict with (VERDICT r3
    'What's wrong' #1: no more O(table) rewrite per batch)."""
    path = str(tmp_path / "scoped")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    before = _partition_file_stats(path)
    assert set(before) == {"level=1", "level=2", "level=3", "level=4"}

    later = datetime.datetime(2026, 6, 1)
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("level") == 4
    )
    n = W.upsert(spark, path, batch, clock=later)
    assert n == 234  # all level-4 features applied

    after = _partition_file_stats(path)
    for d in ("level=1", "level=2", "level=3"):
        assert after[d] == before[d], f"{d} was rewritten"
    assert after["level=4"] != before["level=4"]

    # semantics unchanged: table still complete and last-wins applied
    t = W.load_wilayah(spark, path)
    assert t.count() == 388
    upd = t.filter("level = 4").select("updated_at").distinct().collect()
    assert [r.updated_at for r in upd] == [later]
    kept = t.filter("level = 1").select("updated_at").collect()[0].updated_at
    assert kept == CLOCK


def test_upsert_file_scoped_rewrite(spark, tmp_path):
    """Within an affected level partition, only files whose footer
    kode range intersects a batch key are rewritten — a
    single-kelurahan sync must leave sibling level-4 files
    byte-identical (Delta add-file pruning, sourced from Parquet
    footers)."""
    path = str(tmp_path / "file_scoped")
    with split_layout(spark):
        W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    before = _partition_file_stats(path)
    n_l4_files = len(before["level=4"])
    assert n_l4_files >= 2, "range layout should split level 4"

    later = datetime.datetime(2026, 7, 1)
    one_key = (
        W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri")
        .orderBy("kode_wilayah_kemendagri")
        .limit(1)
        .collect()[0][0]
    )
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("kode_wilayah_kemendagri") == one_key
    )
    assert W.upsert(spark, path, batch, clock=later) == 1

    after = _partition_file_stats(path)
    # untouched levels stay whole directories of identical files
    for d in ("level=1", "level=2", "level=3"):
        assert after[d] == before[d], f"{d} was rewritten"
    # level 4: at least one sibling file survived untouched
    kept = set(before["level=4"].items()) & set(after["level=4"].items())
    assert kept, "single-key sync rewrote every level-4 file"
    assert before["level=4"] != after["level=4"]

    # semantics: full table intact, exactly the one key updated
    t = W.load_wilayah(spark, path)
    assert t.count() == 388
    row = t.filter(F.col("kode_wilayah_kemendagri") == one_key).collect()[0]
    assert row.updated_at == later and row.created_at == CLOCK
    others = (
        t.filter("level = 4")
        .filter(F.col("kode_wilayah_kemendagri") != one_key)
        .select("updated_at")
        .distinct()
        .collect()
    )
    assert [r.updated_at for r in others] == [CLOCK]


def test_upsert_into_new_level_partition(spark, tmp_path):
    """A batch for a level with no existing partition directory is a
    pure insert: no files are affected, the new level=N directory
    appears, and the existing partitions stay byte-identical."""
    path = str(tmp_path / "new_level")
    assert W.seed_if_empty(spark, GEOJSON_DIR, path, clock=CLOCK) is True
    before = _partition_file_stats(path)
    assert set(before) == {"level=1"}

    later = datetime.datetime(2026, 8, 1)
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("level") == 2
    )
    assert W.upsert(spark, path, batch, clock=later) == 18

    after = _partition_file_stats(path)
    assert after["level=1"] == before["level=1"]
    assert "level=2" in after and after["level=2"]
    t = W.load_wilayah(spark, path)
    assert t.count() == 19
    assert t.filter("level = 2").count() == 18


def test_compact_table_bin_packs_small_files(spark, tmp_path):
    """Three single-key upserts leave a trail of small files; OPTIMIZE
    merges exactly the small ones (content-invariant, kode-sorted),
    leaves at-size files alone, and a second run is a no-op."""
    path = str(tmp_path / "compact")
    with split_layout(spark):
        W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    keys = [
        r[0]
        for r in W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri")
        .orderBy("kode_wilayah_kemendagri")
        .limit(3)
        .collect()
    ]
    later = datetime.datetime(2026, 7, 15)
    for k in keys:
        batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
            F.col("kode_wilayah_kemendagri") == k
        )
        W.upsert(spark, path, batch, clock=later)

    import os

    l4 = os.path.join(path, "level=4")
    n_before = len([f for f in os.listdir(l4) if f.endswith(".parquet")])
    before_rows = sorted(
        W.load_wilayah(spark, path)
        .select(*W.TABLE_COLUMNS)
        .collect()
    )

    report = W.compact_table(spark, path)  # every file here is "small"
    assert 4 in report
    n_after = len([f for f in os.listdir(l4) if f.endswith(".parquet")])
    assert n_after < n_before
    assert report[4] == (n_before, n_after)

    after_rows = sorted(
        W.load_wilayah(spark, path)
        .select(*W.TABLE_COLUMNS)
        .collect()
    )
    assert after_rows == before_rows  # content-invariant

    # at-size files untouched: rerun with a tiny threshold → no-op
    stats0 = _partition_file_stats(path)
    assert W.compact_table(spark, path, small_bytes=10) == {}
    assert _partition_file_stats(path) == stats0


def test_vacuum_staging_removes_only_orphans(spark, tmp_path):
    """Simulated mid-swap crash leaves a staging tree; vacuum removes
    it (and compaction leftovers) without touching the table."""
    import os

    path = str(tmp_path / "vac")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    before = _partition_file_stats(path)

    os.makedirs(path + "._staged/level=4", exist_ok=True)
    os.makedirs(path + "._compact_4", exist_ok=True)
    os.makedirs(path + "._staged_ab12cd34", exist_ok=True)  # merge staging
    (tmp_path / "vac._staged" / "level=4" / "junk.parquet").write_bytes(b"x")

    removed = W.vacuum_staging(path)
    assert sorted(removed) == sorted(
        [path + "._staged", path + "._compact_4", path + "._staged_ab12cd34"]
    )
    assert not os.path.exists(path + "._staged")
    assert not os.path.exists(path + "._staged_ab12cd34")
    assert _partition_file_stats(path) == before
    assert W.vacuum_staging(path) == []  # idempotent


def test_delete_keys_file_scoped(spark, tmp_path):
    """Erasure is the anti-merge: deleting two level-4 keys rewrites
    only the files whose footer range contains them; the rest of the
    table — including sibling level-4 files — keeps its inodes."""
    path = str(tmp_path / "erasure")
    with split_layout(spark):
        W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    before = _partition_file_stats(path)

    victims = (
        W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri", "level")
        .orderBy("kode_wilayah_kemendagri")
        .limit(2)
    )
    victim_keys = [r[0] for r in victims.collect()]
    assert W.delete_keys(spark, path, victims) == 2

    after = _partition_file_stats(path)
    for d in ("level=1", "level=2", "level=3"):
        assert after[d] == before[d]
    kept = set(before["level=4"].items()) & set(after["level=4"].items())
    assert kept, "delete rewrote every level-4 file"

    t = W.load_wilayah(spark, path)
    assert t.count() == 386
    assert (
        t.filter(F.col("kode_wilayah_kemendagri").isin(victim_keys)).count()
        == 0
    )
    # deleting absent keys is a no-op (fresh keys frame — the original
    # victims lineage would replay a scan of the now-deleted file)
    gone = spark.createDataFrame(
        [(k, 4) for k in victim_keys],
        "kode_wilayah_kemendagri string, level int",
    )
    assert W.delete_keys(spark, path, gone) == 0


def test_commit_log_time_travel(spark, tmp_path):
    """Delta-lite log: every mutation commits a version; plain reads
    see only the latest; read_table_version reconstructs any prior
    snapshot from live + history files; vacuum enforces retention."""
    path = str(tmp_path / "travel")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)  # v0
    assert W.table_version(path) == 0

    key = (
        W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri")
        .orderBy("kode_wilayah_kemendagri")
        .limit(1)
        .collect()[0][0]
    )
    later = datetime.datetime(2026, 8, 1)
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("kode_wilayah_kemendagri") == key
    )
    W.upsert(spark, path, batch, clock=later)  # v1 (merge)
    gone = spark.createDataFrame(
        [(key, 4)], "kode_wilayah_kemendagri string, level int"
    )
    assert W.delete_keys(spark, path, gone) == 1  # v2 (delete)
    assert W.table_version(path) == 2

    hist = W.table_history(path)
    assert [h["action"] for h in hist] == ["merge", "merge", "delete"]
    assert all(h["n_files"] > 0 for h in hist)

    # plain read = latest: the key is gone
    t = W.load_wilayah(spark, path)
    assert t.count() == 387
    # v0 snapshot: original row with the original timestamp
    v0 = W.read_table_version(spark, path, 0)
    assert v0.count() == 388
    r0 = v0.filter(F.col("kode_wilayah_kemendagri") == key).collect()[0]
    assert r0.updated_at == CLOCK
    # v1 snapshot: updated row present
    v1 = W.read_table_version(spark, path, 1)
    assert v1.count() == 388
    r1 = v1.filter(F.col("kode_wilayah_kemendagri") == key).collect()[0]
    assert r1.updated_at == later
    # default = latest
    assert W.read_table_version(spark, path).count() == 387

    # vacuum with retention 0: all history gone, old snapshots raise
    removed = W.vacuum_history(path, keep_versions=0)
    assert removed
    assert W.read_table_version(spark, path).count() == 387  # latest fine
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        W.read_table_version(spark, path, 0).count()


def test_commit_lock_blocks_second_writer(spark, tmp_path):
    """A held commit lock makes a concurrent mutation fail fast with
    ConcurrentWriteError (single-writer enforced, not assumed);
    vacuum_staging clears a stale lock after a crash."""
    import os

    path = str(tmp_path / "locked")
    W.sync(spark, GEOJSON_DIR, path, code="11.01", clock=CLOCK)

    lock = path + "._commit_lock"
    os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    later = datetime.datetime(2026, 9, 1)
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("level") == 2
    )
    with pytest.raises(W.ConcurrentWriteError, match="another writer"):
        W.upsert(spark, path, batch, clock=later)

    # crash recovery: vacuum clears the stale lock, writes proceed
    removed = W.vacuum_staging(path)
    assert lock in removed and not os.path.exists(lock)
    assert W.upsert(spark, path, batch, clock=later) > 0


def test_restore_table_rolls_back_and_keeps_history(spark, tmp_path):
    """RESTORE: the target version's file set becomes the new latest
    as a NEW commit; intermediate snapshots stay readable; restores
    are themselves restorable."""
    path = str(tmp_path / "restore")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)  # v0: 388
    key = (
        W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri")
        .orderBy("kode_wilayah_kemendagri")
        .limit(1)
        .collect()[0][0]
    )
    gone = spark.createDataFrame(
        [(key, 4)], "kode_wilayah_kemendagri string, level int"
    )
    assert W.delete_keys(spark, path, gone) == 1  # v1: 387

    new_v = W.restore_table(path, 0)  # v2 == v0 content
    assert new_v == 2
    t = W.load_wilayah(spark, path)
    assert t.count() == 388
    assert (
        t.filter(F.col("kode_wilayah_kemendagri") == key).count() == 1
    )
    # the deleted state (v1) is still snapshot-readable
    assert W.read_table_version(spark, path, 1).count() == 387
    hist = W.table_history(path)
    assert hist[-1]["action"] == "restore(v0)"
    # restore of the restore: back to the deleted state
    assert W.restore_table(path, 1) == 3
    assert W.load_wilayah(spark, path).count() == 387


def test_storage_layer_model_interleaving(spark, tmp_path):
    """Model-based check of the whole storage layer: a fixed
    interleaving of merge / delete / compact / restore is mirrored
    in a plain Python dict; after EVERY commit the plain read, the
    dict model, and the per-version snapshots must agree."""
    import os

    path = str(tmp_path / "model")
    base = (
        W.ingest_features(spark, GEOJSON_DIR, clock=CLOCK)
        .filter(F.col("level").isin(3, 4))
        .select(*W.TABLE_COLUMNS)
        .collect()
    )
    rows = {r[0]: r for r in base}
    keys = sorted(rows)

    def batch_of(ks, clock):
        data = [
            (k, rows[k][1], rows[k][2], rows[k][3], clock, clock)
            for k in ks
        ]
        return spark.createDataFrame(data, schema=W.TABLE_COLUMNS)

    model: dict[str, object] = {}
    snapshots: list[set] = []

    def check():
        got = {
            r[0]
            for r in W.load_wilayah(spark, path)
            .select("kode_wilayah_kemendagri")
            .collect()
        }
        assert got == set(model), "plain read diverged from model"
        snapshots.append(set(model))
        for v, snap in enumerate(snapshots):
            got_v = {
                r[0]
                for r in W.read_table_version(spark, path, v)
                .select("kode_wilayah_kemendagri")
                .collect()
            }
            assert got_v == snap, f"snapshot v{v} diverged"

    t0 = datetime.datetime(2026, 3, 1)
    # v0: initial merge of the first 200 keys
    W.upsert(spark, path, batch_of(keys[:200], t0), clock=t0)
    model.update({k: True for k in keys[:200]})
    check()
    # v1: merge 100 more (50 overlapping)
    W.upsert(spark, path, batch_of(keys[150:250], t0), clock=t0)
    model.update({k: True for k in keys[150:250]})
    check()
    # v2: delete every 7th key
    victims = [k for i, k in enumerate(keys[:250]) if i % 7 == 0]
    vdf = spark.createDataFrame(
        [(k, rows[k][2]) for k in victims],
        "kode_wilayah_kemendagri string, level int",
    )
    W.delete_keys(spark, path, vdf)
    for k in victims:
        model.pop(k, None)
    check()
    # v3+: compaction commits (content-invariant, may be several levels)
    W.compact_table(spark, path)
    v = W.table_version(path)
    while len(snapshots) <= v:
        snapshots.append(set(model))  # compact commits don't change rows
    check_rows = {
        r[0]
        for r in W.load_wilayah(spark, path)
        .select("kode_wilayah_kemendagri")
        .collect()
    }
    assert check_rows == set(model)
    # restore to v1: model returns to the pre-delete state
    W.restore_table(path, 1)
    model = {k: True for k in snapshots[1]}
    got = {
        r[0]
        for r in W.load_wilayah(spark, path)
        .select("kode_wilayah_kemendagri")
        .collect()
    }
    assert got == set(model)
    # actions recorded coherently
    actions = [h["action"] for h in W.table_history(path)]
    assert actions[0] == "merge" and actions[-1] == "restore(v1)"
    assert "delete" in actions


def test_merge_pruning_uses_log_stats_not_footers(spark, tmp_path, monkeypatch):
    """After the first commit, merge pruning must be served entirely
    from the commit log's stats — footer reads on the merge path are
    forbidden (monkeypatched to explode)."""
    path = str(tmp_path / "logstats")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)

    def boom(*a, **k):
        raise AssertionError("footer read on the merge path")

    monkeypatch.setattr(W, "_file_kode_stats", boom)
    later = datetime.datetime(2026, 10, 1)
    key = (
        W.load_wilayah(spark, path)
        .filter("level = 4")
        .select("kode_wilayah_kemendagri")
        .orderBy("kode_wilayah_kemendagri")
        .limit(1)
        .collect()[0][0]
    )
    batch = W.ingest_features(spark, GEOJSON_DIR, clock=later).filter(
        F.col("kode_wilayah_kemendagri") == key
    )
    assert W.upsert(spark, path, batch, clock=later) == 1
    row = (
        W.load_wilayah(spark, path)
        .filter(F.col("kode_wilayah_kemendagri") == key)
        .collect()[0]
    )
    assert row.updated_at == later and row.created_at == CLOCK


def test_pre_log_upgrade_seeds_full_manifest(spark, tmp_path):
    """ADVICE r4 (high): the first commit on a PRE-LOG table (exists
    on disk, no _log) must seed v0's manifest from the FULL live
    tree, not just the commit's own delta. Otherwise untouched
    legacy files never become pruning candidates (_log_kode_stats is
    authoritative once a log exists) and their stale rows silently
    survive later merges."""
    import shutil

    path = str(tmp_path / "pre_log")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    total = W.load_wilayah(spark, path).count()
    # simulate a table created before the commit-log feature
    shutil.rmtree(path + "/_log")
    shutil.rmtree(path + "/_history", ignore_errors=True)
    assert W.table_version(path) is None

    # first post-upgrade commit touches ONLY level 4
    t1 = datetime.datetime(2026, 6, 1)
    b1 = W.ingest_features(spark, GEOJSON_DIR, clock=t1).filter(
        F.col("level") == 4
    )
    W.upsert(spark, path, b1, clock=t1)
    v0 = W.table_version(path)
    assert v0 is not None
    manifest = W._read_commit(path, v0)["manifest"]
    # v0 must cover the untouched legacy level-1/2/3 files too
    assert {m.split("/")[0] for m in manifest} >= {
        "level=1",
        "level=2",
        "level=3",
        "level=4",
    }
    # ... and carry pruning stats for all of them
    stats = W._read_commit(path, v0)["stats"]
    assert set(stats) == set(manifest)

    # second commit touches a LEGACY (level-1) key: before the fix
    # its file was invisible to log-sourced pruning, so the stale
    # row survived next to the new one
    t2 = datetime.datetime(2026, 7, 1)
    b2 = W.ingest_features(spark, GEOJSON_DIR, clock=t2).filter(
        F.col("level") == 1
    )
    W.upsert(spark, path, b2, clock=t2)
    t = W.load_wilayah(spark, path)
    assert t.count() == total, "stale legacy rows duplicated keys"
    dup = (
        t.groupBy("kode_wilayah_kemendagri")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    assert (
        t.filter("level = 1").select("updated_at").distinct().collect()[0][0]
        == t2
    )
    # snapshot read of v0 resolves legacy files too
    assert W.read_table_version(spark, path, v0).count() == total


def test_mid_swap_reader_sees_committed_snapshot(spark, tmp_path):
    """r4 verdict ask #2: load_wilayah resolves the committed
    manifest, so a reader that lists the table DURING a writer's
    file swap (affected files already retired to _history, staged
    replacements not yet moved in / commit not yet written) still
    sees the complete last-committed snapshot."""
    import os
    import shutil

    path = str(tmp_path / "mid_swap")
    W.sync(spark, GEOJSON_DIR, path, code="11", clock=CLOCK)
    total = W.load_wilayah(spark, path).count()
    v = W.table_version(path)

    # reconstruct the exact mid-swap disk state the old directory
    # read was vulnerable to: retire one committed file with no
    # replacement and no new commit record
    rel = W._read_commit(path, v)["manifest"][0]
    hist = os.path.join(path, "_history", f"v{v + 1:06d}")
    os.makedirs(os.path.join(hist, os.path.dirname(rel)), exist_ok=True)
    os.rename(os.path.join(path, rel), os.path.join(hist, rel))

    # plain directory listing would transiently lose rows ...
    assert spark.read.parquet(path).count() < total
    # ... the manifest-resolved default read does not
    t = W.load_wilayah(spark, path)
    assert t.count() == total
    assert set(t.columns) == set(W.TABLE_COLUMNS)

    # restore and confirm the table is intact for the next writer
    shutil.move(os.path.join(hist, rel), os.path.join(path, rel))
    assert W.load_wilayah(spark, path).count() == total


def test_reader_retention_contract(spark, tmp_path):
    """r5 verdict ask #4 — the RETENTION CONTRACT, as a model-based
    interleaving extended with a stale-reader re-resolve step:

    1. after EVERY commit kind (merge / delete / compact / restore),
       a reader that RE-RESOLVES via load_wilayah succeeds and
       matches the model — never FILE_NOT_EXIST;
    2. with vacuum_history(keep_versions=2) applied after every
       commit, every snapshot within the window (current-2..current)
       stays readable and matches its model snapshot;
    3. a DataFrame resolved BEFORE a compaction may fail on
       execution after it (documented: no snapshot isolation for
       already-resolved plans) — and the remedy, re-resolving,
       always works;
    4. the ONE documented hazard is vacuuming below a resolved
       version: reading v0 after its retired files aged out of the
       window raises the explicit "has been vacuumed" error.
    """
    import datetime as _dt

    path = str(tmp_path / "retention")
    base = (
        W.ingest_features(spark, GEOJSON_DIR, clock=CLOCK)
        .filter(F.col("level").isin(3, 4))
        .select(*W.TABLE_COLUMNS)
        .collect()
    )
    rows = {r[0]: r for r in base}
    keys = sorted(rows)

    def batch_of(ks, clock):
        return spark.createDataFrame(
            [(k, rows[k][1], rows[k][2], rows[k][3], clock, clock) for k in ks],
            schema=W.TABLE_COLUMNS,
        )

    def read_keys(df):
        return {r[0] for r in df.select("kode_wilayah_kemendagri").collect()}

    model: dict[int, set] = {}  # version -> expected key set

    def after_commit():
        """The contract body, run after every commit."""
        v = W.table_version(path)
        W.vacuum_history(path, keep_versions=2)
        # (1) re-resolved read always succeeds and matches the model
        assert read_keys(W.load_wilayah(spark, path)) == model[v]
        # (2) every version within the retention window stays readable
        for sv in range(max(0, v - 2), v + 1):
            assert read_keys(W.read_table_version(spark, path, sv)) == model[sv]

    t0 = _dt.datetime(2026, 4, 1)
    # v0: merge 120 keys
    W.upsert(spark, path, batch_of(keys[:120], t0), clock=t0)
    model[0] = set(keys[:120])
    after_commit()
    # v1: overlapping merge rewrites every v0 file (same keys, newer
    # clock) — v0's whole file set is now retired history
    t1 = _dt.datetime(2026, 4, 2)
    W.upsert(spark, path, batch_of(keys[:150], t1), clock=t1)
    model[1] = set(keys[:150])
    after_commit()
    # stale-reader step: resolve NOW, execute after the next rewrite
    stale = W.load_wilayah(spark, path)
    # v2: delete every 5th key
    victims = [k for i, k in enumerate(keys[:150]) if i % 5 == 0]
    W.delete_keys(
        spark,
        path,
        spark.createDataFrame(
            [(k, rows[k][2]) for k in victims],
            "kode_wilayah_kemendagri string, level int",
        ),
    )
    model[2] = model[1] - set(victims)
    after_commit()
    # v3+: compaction (may commit once per level; content-invariant)
    W.compact_table(spark, path)
    v = W.table_version(path)
    for cv in range(3, v + 1):
        model[cv] = model[2]
    after_commit()
    # (3) the stale pre-delete/pre-compact plan is allowed to fail —
    # its resolved files were retired and then vacuumed — but the
    # documented remedy (re-resolve) must hold
    try:
        stale_keys = read_keys(stale)
        # if the files happened to survive, the stale read must be a
        # consistent v1 snapshot, never a mix
        assert stale_keys == model[1]
    except Exception:
        pass  # FILE_NOT_EXIST on execution: the documented behavior
    assert read_keys(W.load_wilayah(spark, path)) == model[v]
    # v(n): restore to v2 — restore of an in-window version succeeds
    W.restore_table(path, v - 1 if v - 1 >= 2 else 2)
    v = W.table_version(path)
    model[v] = model[2]
    after_commit()
    # one more merge so v0's history ages far out of the window
    t2 = _dt.datetime(2026, 4, 3)
    W.upsert(spark, path, batch_of(keys[150:170], t2), clock=t2)
    v = W.table_version(path)
    model[v] = model[v - 1] | set(keys[150:170])
    after_commit()
    # (4) the one documented hazard: v0 was fully rewritten at v1 and
    # its files were vacuumed out of the 2-version window long ago
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        W.read_table_version(spark, path, 0).collect()
