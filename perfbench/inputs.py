"""Seed-deterministic benchmark inputs.

Everything the engine reads is generated here from one integer seed:
the same seed writes byte-identical files. Two corpora:

* an Aceh-shaped wilayah GeoJSON corpus (1 provinsi, 18 kabupaten,
  135 kecamatan and 234 kelurahan features in 40 files, named the way
  ``sources.geojson.classify_level`` expects), plus the Python oracle
  rows the table must hold after ingest;
* the LLM-corpus parquet tables (`documents`, `embeddings`) the
  registry's LLM bench queries read, with the column domains of the
  driver's synthetic data (5 % near-duplicate documents, unit-norm 64-d
  embeddings with 10 weak label clusters).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# wilayah GeoJSON corpus
# ---------------------------------------------------------------------------

KAB_CODES = [f"{i:02d}" for i in range(1, 14)] + [f"{i}" for i in range(71, 76)]
N_KECAMATAN = 135
N_KELURAHAN = 234
KELURAHAN_KABS = ("71", "72", "73")  # the kota whose kelurahan have files
_SYLLABLES = (
    "ba ra da ma na ka la ta sa pa ga ja ri di mi ni ki li ti si pu gu "
    "ju lu mu nu ru tu be re de me ne le te se ko lo mo no ro to so"
).split()


def _name(rng: np.random.Generator) -> str:
    words = []
    for _ in range(int(rng.integers(1, 3))):
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        words.append(w.capitalize())
    return " ".join(words)


def _multipolygon(rng: np.random.Generator, lon: float, lat: float, r: float) -> dict:
    """1-2 jittered-circle polygons. Dense rings (many points closer
    than the 1e-4 simplification tolerance) so the geometry kernel
    drops vertices; every fifth feature carries a z coordinate."""
    polys = []
    with_z = rng.random() < 0.2
    for p in range(int(rng.integers(1, 3))):
        n = int(rng.integers(40, 160))
        cx, cy = lon + p * 2.5 * r, lat
        ang = np.sort(rng.random(n)) * 2 * math.pi
        rad = r * (1 + 0.08 * np.sin(5 * ang) + 0.01 * rng.standard_normal(n))
        ring = [
            [round(cx + float(a), 6), round(cy + float(b), 6)]
            for a, b in zip(rad * np.cos(ang), rad * np.sin(ang))
        ]
        ring.append(list(ring[0]))
        if with_z:
            ring = [pt + [12.5] for pt in ring]
        polys.append([ring])
    return {"type": "MultiPolygon", "coordinates": polys}


def _feature(props: dict, geom: dict) -> dict:
    return {"type": "Feature", "properties": props, "geometry": geom}


def write_wilayah_corpus(out_dir: str, seed: int) -> list[dict]:
    """Write the GeoJSON corpus to `out_dir` and return the oracle
    table rows ({kode, nama, level}) after last-wins ingest.

    Besides the per-level counts, the corpus carries one duplicate
    kecamatan (same derived code, later feature index, new name) so
    ingest's last-wins rule is exercised and checked."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    files: dict[str, list[dict]] = {}
    rows: dict[str, dict] = {}

    def add(fname: str, props: dict, geom: dict, kode: str, nama: str, level: int):
        files.setdefault(fname, []).append(_feature(props, geom))
        rows[kode] = {"kode": kode, "nama": nama, "level": level}

    base = {"kd_propinsi": "11"}
    nm = "Aceh " + _name(rng)
    add("11_Aceh.geojson", {**base, "nm_propinsi": nm},
        _multipolygon(rng, 97.0, 4.0, 0.6), "11", nm, 1)

    kec_per_kab = np.full(len(KAB_CODES), N_KECAMATAN // len(KAB_CODES))
    for i in rng.choice(len(KAB_CODES), N_KECAMATAN % len(KAB_CODES), replace=False):
        kec_per_kab[i] += 1
    kel_kecs = []
    for kab, n_kec in zip(KAB_CODES, kec_per_kab):
        lon, lat = 95.5 + 3 * rng.random(), 2.5 + 3 * rng.random()
        kab_nm = _name(rng)
        props2 = {**base, "kd_dati2": kab, "nm_dati2": kab_nm}
        add(f"11.{kab}_{kab_nm.split()[0]}.geojson", props2,
            _multipolygon(rng, lon, lat, 0.15), f"11.{kab}", kab_nm, 2)
        for k in range(int(n_kec)):
            kd_kec = f"{k + 1:03d}"
            kec_nm = _name(rng)
            add(f"11.{kab}_kecamatan.geojson",
                {**props2, "kd_kecamatan": kd_kec, "nm_kecamatan": kec_nm},
                _multipolygon(rng, lon + 0.03 * k, lat, 0.03),
                f"11.{kab}.{kd_kec[-2:]}", kec_nm, 3)
            if kab in KELURAHAN_KABS:
                kel_kecs.append((kab, kd_kec, props2, lon + 0.03 * k, lat))
    # the duplicate: same derived code, later in the same file → wins
    kab, kd_kec, props2, lon, lat = kel_kecs[0]
    dup_nm = _name(rng) + " Baru"
    add(f"11.{kab}_kecamatan.geojson",
        {**props2, "kd_kecamatan": kd_kec, "nm_kecamatan": dup_nm},
        _multipolygon(rng, lon, lat, 0.03), f"11.{kab}.{kd_kec[-2:]}", dup_nm, 3)

    kel_per_kec = np.full(len(kel_kecs), N_KELURAHAN // len(kel_kecs))
    for i in rng.choice(len(kel_kecs), N_KELURAHAN % len(kel_kecs), replace=False):
        kel_per_kec[i] += 1
    for (kab, kd_kec, props2, lon, lat), n_kel in zip(kel_kecs, kel_per_kec):
        for j in range(int(n_kel)):
            kd_kel = f"{j + 1:03d}"
            kel_nm = _name(rng)
            add(f"11.{kab}_kelurahan.geojson",
                {**props2, "kd_kecamatan": kd_kec, "kd_kelurahan": kd_kel,
                 "nm_kelurahan": kel_nm},
                _multipolygon(rng, lon, lat + 0.005 * j, 0.004),
                f"11.{kab}.{kd_kec[-2:]}.2{kd_kel}", kel_nm, 4)

    for fname, feats in files.items():
        with open(os.path.join(out_dir, fname), "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f)
    return sorted(rows.values(), key=lambda r: r["kode"])


# ---------------------------------------------------------------------------
# the LLM corpus
# ---------------------------------------------------------------------------

# rows per table (the sf0.01 shapes)
SIZES = {"documents": 500, "embeddings": 500}

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The `documents` and `embeddings` tables, SIZES rows each."""
    rng = np.random.default_rng([seed, 2])
    t: dict[str, pa.Table] = {}
    nd = SIZES["documents"]
    texts = [
        " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    for i in rng.choice(nd, nd // 20, replace=False):  # 5 % near-duplicates
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = SIZES["embeddings"]
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = 1.13 * centers[labels] + rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
