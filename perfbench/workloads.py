"""The workloads: one closed-loop client each, op by op.

Every op belongs to a class that the end-to-end metrics are taken
over:

* ``fresh``  — the op meets input it has not seen before: a wilayah
  `sync` (reads a kabupaten's GeoJSON files and merges them), or a
  registry query's first run on a freshly copied input path;
* ``repeat`` — the op reruns on input it has already seen: the
  wilayah read API on the managed table, or a registry query's
  second and later runs on the same path;
* ``maint``  — table maintenance (`compact_table`, `vacuum_history`),
  counted in the pass time only.

A workload exposes `stage` (write inputs), `seed_ingest`, `warmup` (a
scan of the input, so the session's first jobs are not timed),
`run_pass` and `finish`; each op result is checked against an oracle
outside the op's timing.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

import inputs
from ops import Runner, canon

CLOCK = datetime.datetime(2026, 1, 1)
KODE, NAMA = "kode_wilayah_kemendagri", "nama_wilayah_kemendagri"  # table columns


def _tree_files(path: str, sub: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel.split(os.sep)[0].startswith(sub):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _envelope_parts(code: str) -> list[tuple[str, int, str]]:
    """The reference service's code-length dispatch for
    /api/db/geojson: (envelope part, level, code prefix) per part."""
    n = len(code)
    if n == 2:
        return [("provinsi", 1, code), ("kabupaten", 2, code)]
    if n == 5:
        return [("kabupaten", 2, code), ("kecamatan", 3, code), ("kelurahan", 4, code)]
    if n == 8:
        return [("kabupaten", 2, code[:5]), ("kecamatan", 3, code), ("kelurahan", 4, code)]
    return [("kecamatan", 3, code[:8]), ("kelurahan", 4, code)]


class WilayahServe:
    """The reference service's traffic over a generated Aceh corpus:
    six reads and one kabupaten `sync`, then compaction and history
    vacuum, per pass."""

    name = "wilayah_serve"
    pass_estimate_s = 25.0

    def __init__(self, runner: Runner, work: str, seed: int) -> None:
        from wilayah_aceh_etl_spark.operators import wilayah as W

        self.W = W
        self.r = runner
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 3])
        self.geo = os.path.join(work, "geojson")
        self.table = os.path.join(work, "m_wilayah_poligon")
        self.rows: list[dict] = []
        self.layers = {"live_files": [], "history_files": []}

    # -- set-up ---------------------------------------------------------------

    def stage(self) -> None:
        self.rows = inputs.write_wilayah_corpus(self.geo, self.seed)
        self.kabs = sorted(r["kode"] for r in self.rows if r["level"] == 2)
        self.kel_kabs = sorted({r["kode"][:5] for r in self.rows if r["level"] == 4})

    def warmup(self) -> None:
        """A scan of the seeded table: the session's first read job and
        parquet scan run here, not in the first timed op."""
        self.W.load_wilayah(self.r.spark, self.table).count()

    def seed_ingest(self) -> None:
        n = self.W.sync(self.r.spark, self.geo, self.table, "11", clock=CLOCK)
        if n != len(self.rows):
            raise RuntimeError(f"seed ingest applied {n} rows, expected {len(self.rows)}")

    # -- the pass -----------------------------------------------------------

    def _names_with(self, q: str, limit: int = 10):
        hit = [r for r in self.rows if q.lower() in r["nama"].lower()]
        hit.sort(key=lambda r: (r["level"], r["nama"], r["kode"]))
        return [(r["kode"], r["nama"], r["level"]) for r in hit[:limit]]

    def _under(self, prefix: str, level: int | None = None):
        return [
            r for r in self.rows
            if r["kode"].startswith(prefix) and (level is None or r["level"] == level)
        ]

    def _read_ops(self, kab: str, rng):
        """(name, expected-check, build) for the six reads of a pass,
        with seed-chosen arguments under kabupaten `kab`."""
        W = self.W
        kec = [r["kode"] for r in self._under(kab, 3)]
        kel = [r["kode"] for r in self.rows if r["level"] == 4]
        code8 = kec[int(rng.integers(len(kec)))]
        code13 = kel[int(rng.integers(len(kel)))]
        names = [r["nama"] for r in self.rows if len(r["nama"]) >= 4]
        q = names[int(rng.integers(len(names)))][-4:].lower()

        def env_check(code):
            parts = _envelope_parts(code)

            def check(rows):
                got = {r["part"]: (r["n_features"], json.loads(r["feature_collection"])) for r in rows}
                want = {}
                for key, lvl, prefix in parts:
                    sel = sorted(self._under(prefix, lvl), key=lambda r: r["kode"])
                    if sel:
                        want[key] = sel
                if set(got) != set(want):
                    return False
                for key, sel in want.items():
                    n, fc = got[key]
                    ids = [(f["properties"]["id"], f["properties"]["name"]) for f in fc["features"]]
                    if n != len(sel) or ids != [(r["kode"], r["nama"]) for r in sel]:
                        return False
                    if any(f["geometry"]["type"] != "MultiPolygon" for f in fc["features"]):
                        return False
                return True

            return check

        def status_check(code):
            sel = self._under(code)
            want = (bool(sel),) + tuple(sum(r["level"] == lv for r in sel) for lv in (1, 2, 3, 4))
            return lambda rows: [tuple(r) for r in rows] == [want]

        return [
            ("search", lambda rows: [tuple(r) for r in rows] == self._names_with(q),
             lambda t: W.search(t, q)),
            ("geojson_envelope_2", env_check("11"), lambda t: W.geojson_envelope(t, "11")),
            ("geojson_envelope_5", env_check(kab), lambda t: W.geojson_envelope(t, kab)),
            ("status_counts", status_check(kab), lambda t: W.status_counts(t, kab)),
            ("geojson_envelope_8", env_check(code8), lambda t: W.geojson_envelope(t, code8)),
            ("geojson_envelope_13", env_check(code13), lambda t: W.geojson_envelope(t, code13)),
        ]

    def run_pass(self, i: int) -> None:
        """Six reads, a sync, then maintenance. Even passes sync a kota
        with kelurahan files, odd ones a kabupaten without, so the n-th
        pass has the same shape whatever the seed."""
        W, r, spark = self.W, self.r, self.r.spark
        pool = self.kel_kabs if i % 2 == 0 else [k for k in self.kabs if k not in self.kel_kabs]
        kab = pool[int(self.rng.integers(len(pool)))]

        def load():
            with r.tracer.span("load_wilayah"):
                return W.load_wilayah(spark, self.table)

        for name, check, fn in self._read_ops(kab, self.rng):
            r.query(name, "repeat", lambda fn=fn: fn(load()), check)
        want = len(self._under(kab))
        before = self._live()
        r.action("sync", "fresh", lambda: W.sync(spark, self.geo, self.table, kab, clock=CLOCK),
                 lambda n: n == want, after=lambda rec: self._sync_layers(rec, kab, before))
        self.layers["live_files"].append(len(self._live()))
        r.action("compact_table", "maint", lambda: W.compact_table(spark, self.table),
                 lambda rep: all(after <= before for before, after in rep.values()))
        r.action("vacuum_history", "maint", lambda: W.vacuum_history(self.table), lambda rm: True)
        self.layers["history_files"].append(len(_tree_files(self.table, "_history")))

    def _live(self) -> list[str]:
        return _tree_files(self.table, "level=")

    def _sync_layers(self, rec: dict, kab: str, before: list[str]) -> None:
        """Out-of-band geometry kernel timing plus the write
        amplification of one sync, for the traced run."""
        from wilayah_aceh_etl_spark.functions.geometry import normalize_geojson_str

        in_bytes = v_in = v_out = 0
        t_kernel = 0.0
        for fname in sorted(os.listdir(self.geo)):
            if not fname.startswith(kab):
                continue
            path = os.path.join(self.geo, fname)
            in_bytes += os.path.getsize(path)
            with open(path) as f:
                feats = json.load(f)["features"]
            geoms = [json.dumps(ft["geometry"]) for ft in feats]
            t = time.perf_counter()
            outs = [normalize_geojson_str(g) for g in geoms]
            t_kernel += time.perf_counter() - t
            v_in += sum(len(ring) for ft in feats for p in ft["geometry"]["coordinates"] for ring in p)
            v_out += sum(len(ring) for o in outs for p in json.loads(o)["coordinates"] for ring in p)
        added = set(self._live()) - set(before)
        rec["layers"].update({
            "geometry.kernel_s": t_kernel,
            "geometry.vertices_in": v_in,
            "geometry.vertices_out": v_out,
            "wilayah.bytes_written_per_input_byte":
                sum(os.path.getsize(p) for p in added) / in_bytes,
        })

    def finish(self) -> None:
        """Check what the writes left: the latest snapshot, and the one
        before it (kept by `vacuum_history`), must hold exactly the
        oracle's (kode, nama, level) rows, each with a geometry. Every
        sync re-ingests unchanged files, so both equal the corpus."""
        W, spark = self.W, self.r.spark
        want = sorted((r["kode"], r["nama"], r["level"]) for r in self.rows)
        latest = W.table_version(self.table)
        for version in (latest, latest - 1):
            try:
                if version == latest:
                    df = W.load_wilayah(spark, self.table)
                else:
                    df = W.read_table_version(spark, self.table, version)
                got = df.select(KODE, NAMA, "level", "geometry").collect()
                bad = sorted((k, n, lv) for k, n, lv, _ in got) != want
                bad = bad or any(g is None for *_, g in got)
            except Exception:  # noqa: BLE001 — an unreadable snapshot is a failure
                traceback.print_exc(file=sys.stderr)
                bad = True
            self.r.fail_checks(f"table v{version}", int(bad))


class LlmCuration:
    """MinHash near-duplicate pairs, then trained-IVF top-k, over a
    seed-generated LLM corpus presented at a freshly copied path every
    pass: the first trained-IVF run on the fresh path trains KMeans in
    build, the two reruns serve from what that run left behind.
    Results are checked against the registry's own DuckDB oracle SQL
    once per run, outside timing."""

    name = "llm_curation"
    fresh_queries = ("dedup_minhash_lsh_pairs",)
    repeat_queries = ("similarity_ivf_trained_topk",)
    repeats = 2
    pass_estimate_s = 30.0

    def __init__(self, runner: Runner, work: str, seed: int) -> None:
        from wilayah_aceh_etl_spark.plans.registry import all_specs

        specs = all_specs()
        self.specs = {n: specs[n] for n in self.fresh_queries + self.repeat_queries}
        self.r = runner
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "input")
        self.results: dict[str, list[tuple]] = {}

    def stage(self) -> None:
        inputs.write_tables(inputs.make_tables(self.seed), self.src)

    def seed_ingest(self) -> None:
        pass

    def warmup(self) -> None:
        """A scan of the first staged table: the session's first job and
        parquet scan run here, not in the first timed op."""
        from wilayah_aceh_etl_spark.sources.tables import load_table

        load_table(self.r.spark, self.src, next(iter(inputs.SIZES))).count()

    def _query(self, name: str, cls: str, path: str) -> None:
        spec = self.specs[name]
        self.r.query(name, cls, lambda: spec.fn(self.r.spark, path),
                     lambda rows: self._keep(name, rows))

    def _keep(self, name: str, rows) -> bool:
        """Results are compared after the run (one oracle query per
        name); here only the canonical form is stored."""
        self.results.setdefault(name, []).append(canon(rows))
        return True

    def run_pass(self, i: int) -> None:
        path = os.path.join(self.work, f"pass{i}")
        shutil.copytree(self.src, path)
        for name in self.fresh_queries:
            self._query(name, "fresh", path)
        for name in self.repeat_queries:
            self._query(name, "fresh", path)
            for _ in range(self.repeats):
                self._query(name, "repeat", path)

    def finish(self) -> None:
        """Check every stored result against the oracle SQL; an op whose
        result differs is counted as failed."""
        import duckdb

        con = duckdb.connect()
        for t in inputs.SIZES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.src, t)}.parquet')"
            )
        for name, got in self.results.items():
            cur = con.execute(self.specs[name].oracle)
            cols = [d[0] for d in cur.description]
            want = canon([dict(zip(cols, row)) for row in cur.fetchall()])
            bad = sum(g != want for g in got)
            self.r.fail_checks(name, bad)
        con.close()


WORKLOADS = {w.name: w for w in (WilayahServe, LlmCuration)}
