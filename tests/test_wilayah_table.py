"""The managed wilayah table over a tiny GeoJSON corpus built inside
the test: snapshot reads against a Python model across merge, delete,
compact and history vacuum; created_at/updated_at on re-sync; empty
batches; the declared schema; envelope part order; and the number of
Spark jobs each call runs."""

from __future__ import annotations

import datetime
import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_run, split_layout
from wilayah_aceh_etl_spark.operators import wilayah as W

CLOCK = datetime.datetime(2026, 1, 1)
KODE, NAMA = "kode_wilayah_kemendagri", "nama_wilayah_kemendagri"


def _square(lon: float, lat: float) -> dict:
    d = 0.1
    ring = [[lon, lat], [lon + d, lat], [lon + d, lat + d], [lon, lat + d], [lon, lat]]
    return {"type": "MultiPolygon", "coordinates": [[ring]]}


def _write_corpus(geo: str) -> dict[str, tuple[str, int]]:
    """1 provinsi, 2 kabupaten, 4 kecamatan and 3 kelurahan in 6 files
    named as the reference corpus is; returns {kode: (nama, level)}."""
    os.makedirs(geo)
    files: dict[str, list] = {}
    model: dict[str, tuple[str, int]] = {}

    def add(fname, props, kode, nama, level):
        i = len(model)
        files.setdefault(fname, []).append(
            {"type": "Feature", "properties": props, "geometry": _square(95 + i, 4)}
        )
        model[kode] = (nama, level)

    p1 = {"kd_propinsi": "11", "nm_propinsi": "Aceh"}
    add("11_Aceh.geojson", p1, "11", "Aceh", 1)
    for kab, kab_nm in (("01", "Simeulue"), ("71", "Banda Aceh")):
        p2 = {"kd_propinsi": "11", "kd_dati2": kab, "nm_dati2": kab_nm}
        add(f"11.{kab}_{kab_nm.split()[0]}.geojson", p2, f"11.{kab}", kab_nm, 2)
        for kec, kec_nm in (("010", f"Kec {kab}A"), ("020", f"Kec {kab}B")):
            p3 = {**p2, "kd_kecamatan": kec, "nm_kecamatan": kec_nm}
            add(f"11.{kab}_kecamatan.geojson", p3, f"11.{kab}.{kec[-2:]}", kec_nm, 3)
    p3 = {"kd_propinsi": "11", "kd_dati2": "71", "kd_kecamatan": "010"}
    for kel in ("001", "002", "003"):
        p4 = {**p3, "kd_kelurahan": kel, "nm_kelurahan": f"Gampong {kel}"}
        add("11.71_kelurahan.geojson", p4, f"11.71.10.2{kel}", f"Gampong {kel}", 4)
    for fname, feats in files.items():
        with open(os.path.join(geo, fname), "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f)
    return model


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    geo = str(tmp_path_factory.mktemp("wilayah_table") / "geojson")
    return geo, _write_corpus(geo)


@pytest.fixture
def table(tmp_path):
    return str(tmp_path / "m_wilayah_poligon")


def _rows(df) -> dict[str, tuple]:
    """{kode: (nama, level, created_at, updated_at)}; every row must
    carry a geometry and every kode must be unique."""
    cols = (KODE, NAMA, "level", "geometry", "created_at", "updated_at")
    got = df.select(*cols).collect()
    assert all(r["geometry"] for r in got)
    out = {r[0]: (r[1], r[2], r[4], r[5]) for r in got}
    assert len(out) == len(got), "duplicate keys"
    return out


def _batch(spark, rows: list[tuple]):
    """A batch as callers build it from Python tuples: level is bigint."""
    return spark.createDataFrame(rows, schema=W.TABLE_COLUMNS)


def test_snapshots_match_model_through_maintenance(spark, corpus, table):
    geo, base = corpus
    t1, t2 = CLOCK + datetime.timedelta(days=1), CLOCK + datetime.timedelta(days=2)
    model = {k: (n, lv, CLOCK, CLOCK) for k, (n, lv) in base.items()}
    snapshots = {}

    def commit_check():
        v = W.table_version(table)
        snapshots[v] = dict(model)
        assert _rows(W.load_wilayah(spark, table)) == model

    assert W.sync(spark, geo, table, "11", clock=CLOCK) == len(base)
    commit_check()
    # merge: rename two kecamatan, add a new kelurahan (bigint level)
    geom = json.dumps(_square(99, 9))
    merge = [("11.01.10", "Kec Baru", 3, geom, t1, t1),
             ("11.71.20", "Kec Lain", 3, geom, t1, t1),
             ("11.71.10.2009", "Gampong Baru", 4, geom, t1, t1)]
    assert W.upsert(spark, table, _batch(spark, merge), clock=t1) == 3
    model["11.01.10"] = ("Kec Baru", 3, CLOCK, t1)
    model["11.71.20"] = ("Kec Lain", 3, CLOCK, t1)
    model["11.71.10.2009"] = ("Gampong Baru", 4, t1, t1)
    commit_check()
    # a second merge over the same level-4 range
    again = [("11.71.10.2002", "Gampong Dua", 4, geom, t2, t2)]
    assert W.upsert(spark, table, _batch(spark, again), clock=t2) == 1
    model["11.71.10.2002"] = ("Gampong Dua", 4, CLOCK, t2)
    commit_check()
    # delete two keys (one existing twice over, one absent)
    victims = spark.createDataFrame(
        [("11.71.10.2001", 4), ("11.01.20", 3), ("11.99.99", 3)],
        f"{KODE} string, level int",
    )
    assert W.delete_keys(spark, table, victims) == 2
    del model["11.71.10.2001"], model["11.01.20"]
    commit_check()
    # compaction: at least one level has several small files by now
    v_before = W.table_version(table)
    report = W.compact_table(spark, table)
    assert report and all(after < before for before, after in report.values())
    for v in range(v_before + 1, W.table_version(table) + 1):
        snapshots[v] = dict(model)
    assert _rows(W.load_wilayah(spark, table)) == model
    for v, snap in snapshots.items():
        assert _rows(W.read_table_version(spark, table, v)) == snap, f"v{v}"
    assert dict(W.read_table_version(spark, table, 0).dtypes)["level"] == "int"

    latest = W.table_version(table)
    W.vacuum_history(table, keep_versions=1)
    for v in (latest - 1, latest):
        assert _rows(W.read_table_version(spark, table, v)) == snapshots[v]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        W.read_table_version(spark, table, 0)


def test_resync_keeps_created_at_and_advances_updated_at(spark, corpus, table):
    geo, base = corpus
    later = CLOCK + datetime.timedelta(days=30)
    W.sync(spark, geo, table, "11", clock=CLOCK)
    n = sum(k.startswith("11.71") for k in base)
    assert W.sync(spark, geo, table, "11.71", clock=later) == n
    got = _rows(W.load_wilayah(spark, table))
    assert set(got) == set(base)
    for kode, (nama, level, created, updated) in got.items():
        assert (nama, level) == base[kode]
        assert created == CLOCK
        assert updated == (later if kode.startswith("11.71") else CLOCK)


def test_empty_batches_commit_nothing(spark, corpus, table):
    geo, _ = corpus
    empty = spark.createDataFrame([], W.TABLE_SCHEMA)
    W.sync(spark, geo, table, "11", clock=CLOCK)
    v = W.table_version(table)
    live = sorted(os.listdir(os.path.join(table, "level=3")))
    assert W.upsert(spark, table, empty, clock=CLOCK) == 0
    assert W.sync(spark, geo, table, "99", clock=CLOCK) == 0  # no such file
    assert W.delete_keys(spark, table, empty.select(KODE, "level")) == 0
    assert W.table_version(table) == v
    assert sorted(os.listdir(os.path.join(table, "level=3"))) == live
    assert not os.path.exists(table + "._staged")

    fresh = table + "_fresh"
    assert W.upsert(spark, fresh, empty, clock=CLOCK) == 0
    assert not os.path.exists(fresh) and not os.path.exists(fresh + "._staged")


def test_bigint_level_batch_round_trips(spark, table):
    rows = [
        ("11", "Aceh", 1, "{}", CLOCK, CLOCK),
        ("11.71.10.2001", "Gampong", 4, "{}", CLOCK, CLOCK),
    ]
    batch = _batch(spark, rows)
    assert dict(batch.dtypes)["level"] == "bigint"
    assert W.upsert(spark, table, batch, clock=CLOCK) == 2
    t = W.load_wilayah(spark, table)
    assert {f.name: f.dataType for f in t.schema.fields} == {
        f.name: f.dataType for f in W.TABLE_SCHEMA.fields
    }
    got = t.select(*W.TABLE_COLUMNS).collect()
    assert sorted(tuple(r) for r in got) == sorted(rows)
    # deleting every row leaves an empty manifest that still reads
    assert W.delete_keys(spark, table, t.select(KODE, "level")) == 2
    assert W.load_wilayah(spark, table).select(*W.TABLE_COLUMNS).collect() == []


@pytest.mark.parametrize(
    "code, parts",
    [
        ("11", ["kabupaten", "provinsi"]),
        ("11.71", ["kabupaten", "kecamatan", "kelurahan"]),
        ("11.71.10", ["kabupaten", "kecamatan", "kelurahan"]),
        ("11.71.10.2002", ["kecamatan", "kelurahan"]),
    ],
)
def test_envelope_part_order(spark, corpus, tmp_path, code, parts):
    geo, base = corpus
    table = str(tmp_path / "t")
    W.sync(spark, geo, table, "11", clock=CLOCK)
    got = W.geojson_envelope(W.load_wilayah(spark, table), code).collect()
    assert [r["part"] for r in got] == parts
    for r in got:
        fc = json.loads(r["feature_collection"])
        ids = [f["properties"]["id"] for f in fc["features"]]
        assert ids == sorted(ids) and len(ids) == r["n_features"]


def _data_files(table: str) -> dict[str, tuple[int, int, int]]:
    """{level=N/file: (inode, mtime_ns, size)} for every live data file."""
    out = {}
    for d in sorted(os.listdir(table)):
        if not d.startswith("level="):
            continue
        for f in os.listdir(os.path.join(table, d)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(table, d, f))
                out[f"{d}/{f}"] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _files_per_level(table: str) -> Counter:
    return Counter(rel.split("/", 1)[0] for rel in _data_files(table))


def test_small_table_writes_one_file_per_level(spark, corpus, table):
    """Staged writes are sized by bytes, not split into a fixed number
    of ranges: the seed sync and a kabupaten re-sync each leave one
    data file per level, so compaction finds nothing to do and runs no
    Spark job."""
    geo, base = corpus
    one_each = {"level=1": 1, "level=2": 1, "level=3": 1, "level=4": 1}
    W.sync(spark, geo, table, "11", clock=CLOCK)
    assert _files_per_level(table) == one_each
    later = CLOCK + datetime.timedelta(days=1)
    n = sum(k.startswith("11.71") for k in base)
    assert W.sync(spark, geo, table, "11.71", clock=later) == n
    assert _files_per_level(table) == one_each
    assert jobs_run(spark, lambda: W.compact_table(spark, table)) == ({}, 0)
    assert set(_rows(W.load_wilayah(spark, table))) == set(base)


def test_upsert_on_split_layout_keeps_sibling_files(spark, corpus, table):
    """On a table whose levels hold several kode-ranged files, a
    one-kecamatan upsert rewrites only the file whose range holds the
    key, as one file: every other file keeps its inode, mtime and
    size."""
    geo, base = corpus
    with split_layout(spark):
        W.sync(spark, geo, table, "11", clock=CLOCK)
    before = _data_files(table)
    assert _files_per_level(table)["level=3"] >= 2
    later = CLOCK + datetime.timedelta(days=1)
    row = ("11.71.20", "Kec Lain", 3, json.dumps(_square(99, 9)), later, later)
    assert W.upsert(spark, table, _batch(spark, [row]), clock=later) == 1
    after = _data_files(table)
    rewritten = [f for f in before if after.get(f) != before[f]]
    assert len(rewritten) == 1 and rewritten[0].startswith("level=3/")
    assert len(after) == len(before)
    got = _rows(W.load_wilayah(spark, table))
    assert set(got) == set(base)
    assert got["11.71.20"] == ("Kec Lain", 3, CLOCK, later)


def test_job_counts(spark, corpus, table):
    """Reading the table resolves its files and schema without a
    Spark job; the envelope and a kabupaten sync run only the jobs
    that do the caller's work."""
    geo, base = corpus
    W.sync(spark, geo, table, "11", clock=CLOCK)
    n = sum(k.startswith("11.71") for k in base)
    got, jobs = jobs_run(
        spark, lambda: W.sync(spark, geo, table, "11.71", clock=CLOCK)
    )
    assert got == n and jobs <= 8
    t, jobs = jobs_run(spark, lambda: W.load_wilayah(spark, table))
    assert jobs == 0
    env, jobs = jobs_run(
        spark, lambda: W.geojson_envelope(t, "11.71").collect()
    )
    assert len(env) == 3 and jobs <= 2
    assert jobs_run(spark, lambda: W.read_table_version(spark, table, 0))[1] == 0
    assert W.load_wilayah(spark, table).filter(F.col("level") == 4).count() == 3
