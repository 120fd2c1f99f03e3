"""The wilayah engine: full reference-service parity, Spark-first.

Every entry point of the reference (SURVEY §3) as a DataFrame
operation over one managed Parquet table:

  ingest          — POST /api/db/sync (server.js:339-383): read →
                    derive codes → normalize geometry (one pandas-UDF
                    stage) → last-wins MERGE. One distributed job vs
                    the reference's 388 sequential round-trips.
  search          — GET /api/search (server.js:290-336)
  status          — GET /api/db/status (server.js:188-287)
  geojson_envelope— GET /api/db/geojson (server.js:386-483) with the
                    code-length dispatch (SURVEY §2.7)
  file_envelope   — GET /api/geojson DB-less fallback (server.js:509-565)
  seed_if_empty   — startup seed (server.js:103-157)

Storage: Parquet partitioned by `level` (partition pruning replaces
the B-tree on level), rows sorted by kode within partitions (row-group
min/max pruning replaces the kode index — SURVEY §4 X1). Upsert is
the pure-Parquet last-wins window rewrite (no Delta available): the
same shuffle a MERGE would do, with an explicit (source_file,
feature_index) tiebreaker reproducing the reference's sequential
last-write-wins (SURVEY §7 hard-problem 3).

Every read of the table declares `TABLE_SCHEMA` (no Parquet schema
inference job) and scans each file root — the live tree or one
`_history/vN` directory — once, with `level` as its partition
column; every write casts to the same schema. A read therefore runs
no Spark job until the caller's action, and a merge or delete runs
only the jobs that find, rewrite and count the affected files.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wilayah_aceh_etl_spark.functions.geometry import (
    DEFAULT_TOLERANCE,
    geometry_struct,
    make_normalize_udf,
)
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.geojson import read_features

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("kode_wilayah_kemendagri", T.StringType()),
        T.StructField("nama_wilayah_kemendagri", T.StringType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("geometry", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)
TABLE_COLUMNS = TABLE_SCHEMA.fieldNames()

_KODE = "kode_wilayah_kemendagri"
_NAMA = "nama_wilayah_kemendagri"


def _read(spark: SparkSession, root: str, paths: list[str]) -> DataFrame:
    """Data files (or the directory) under `root`, read with the
    declared schema in one scan; `level` comes from the paths."""
    return (
        spark.read.schema(TABLE_SCHEMA)
        .option("basePath", root)
        .parquet(*paths)
    )


def _conform(df: DataFrame) -> DataFrame:
    """`df` cast to the declared schema, so every written file matches
    what readers declare."""
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in TABLE_SCHEMA.fields]
    )


def _now(clock: datetime.datetime | None) -> F.Column:
    return (
        F.lit(clock.isoformat()).cast("timestamp")
        if clock is not None
        else F.current_timestamp()
    )


# ---------------------------------------------------------------------------
# Ingest (ETL)
# ---------------------------------------------------------------------------


def ingest_features(
    spark: SparkSession,
    geojson_dir: str,
    code: str | None = None,
    tolerance: float = DEFAULT_TOLERANCE,
    clock: datetime.datetime | None = None,
) -> DataFrame:
    """The ETL transform: raw features → normalized table rows.

    Geometry normalization (G1-G5) is the single Python stage,
    Arrow-batched and map-side; everything else is Catalyst. The
    in-batch last-wins dedup keyed on (source_file, feature_index)
    reproduces the reference's sequential loop ordering."""
    from pyspark.sql.window import Window

    normalize = make_normalize_udf(tolerance)
    raw = read_features(spark, geojson_dir, code)
    w = Window.partitionBy(_KODE).orderBy(
        F.col("source_file").desc(), F.col("feature_index").desc()
    )
    return (
        raw.withColumn("geometry", normalize(F.col("geometry_json")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            _KODE,
            _NAMA,
            "level",
            "geometry",
            _now(clock).alias("created_at"),
            _now(clock).alias("updated_at"),
        )
    )


def upsert(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    clock: datetime.datetime | None = None,
) -> int:
    """S9: INSERT .. ON CONFLICT DO UPDATE as the pure-Parquet
    last-wins rewrite. Batch rows win over existing rows; existing
    created_at is preserved for matched keys (the reference updates
    nama/geometry/updated_at only, server.js:93-97).

    Returns the number of batch rows applied (A5 processed counter).
    The counter rides the batch's first action via the Observation
    API; the batch lineage (GeoJSON scan + geometry kernel, the
    expensive part of ingest) executes exactly once (it is persisted
    for the file-pruning join and the merge). This is the Spark twin
    of the reference's totalProcessed++ (server.js:357,374) and of
    Delta's operationMetrics.numOutputRows. An empty batch commits
    nothing.

    Scale design — FILE-SCOPED MERGE (Delta's add-file pruning on
    plain Parquet), not a table rewrite:

      1. take each live file's `kode` min/max from the commit log
         (Parquet footers for pre-log tables) and join that stats
         relation against the batch's (kode, level) keys — only files
         whose level matches and whose key range contains a batch key
         are "affected" (a file with absent/truncated stats is treated
         as affected, conservatively);
      2. union the batch with ONLY the affected files, re-window
         last-wins (the same window carries the key's earliest
         existing created_at), and write replacement files
         range-partitioned on (level, kode), sized by AQE's
         post-shuffle partition size, so future merges prune
         tightly;
      3. swap at FILE granularity: retire the affected files, move
         the staged files in. Every other file in the table — even
         inside the batch's own level partition — keeps its bytes and
         inode (asserted by tests).

    At 100 TB a single-kelurahan sync rewrites one file, not a
    partition and not the world. The per-batch driver cost is one
    metadata-scale join — exactly the add-file pruning a Delta MERGE
    does from its transaction log.
    """
    import shutil

    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    obs = Observation()
    batch = batch.observe(obs, F.count(F.lit(1)).alias("n_batch"))
    batch = batch.withColumn("_prio", F.lit(1)).persist()
    try:
        affected = (
            _affected_files(spark, table_path, batch)
            if _table_exists(table_path)
            else None
        )
        w = Window.partitionBy(_KODE).orderBy(F.col("_prio").desc())
        merged = batch
        if affected:
            existing = _read(spark, table_path, affected)
            merged = batch.unionByName(existing.withColumn("_prio", F.lit(0)))
            # a matched key always lives in an affected file (its own
            # range contains it), so the slice holds its created_at
            key_rows = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            old_created = F.min(
                F.when(F.col("_prio") == 0, F.col("created_at"))
            ).over(key_rows)
            merged = merged.withColumn(
                "created_at", F.coalesce(old_created, F.col("created_at"))
            )
        winners = merged.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        tmp = table_path + "._staged"
        _write_staged(_conform(winners), tmp)
        n_batch = int(obs.get["n_batch"])
        if n_batch == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return 0
        _swap_files(table_path, tmp, affected, action="merge")
        return n_batch
    finally:
        batch.unpersist()


def _write_staged(out: DataFrame, tmp: str) -> None:
    """The merge/delete/seed write-stage layout: partition pruning on
    level; disjoint kode ranges per file + kode-sorted row groups, so
    both min/max pruning on prefix predicates AND the next merge's
    file scoping stay tight. The range exchange takes no count: it
    starts at spark.sql.shuffle.partitions and AQE coalesces adjacent
    ranges to its post-shuffle partition size, so files follow bytes
    (one file per level for the 388-row Aceh table) and each merged
    file still holds one disjoint kode range."""
    (
        out.repartitionByRange(F.col("level"), F.col(_KODE))
        .sortWithinPartitions("level", _KODE)
        .write.mode("overwrite")
        .partitionBy("level")
        .parquet(tmp)
    )


def _table_exists(path: str) -> bool:
    return os.path.exists(path)


def _file_kode_stats(table_path: str) -> dict:
    """Pre-log tables: {relpath: [kode_min, kode_max] | None} for every
    live data file, from Parquet footers only."""
    return _footer_stats_for(table_path, _live_files(table_path))


def _log_kode_stats(table_path: str) -> dict | None:
    """The same relation sourced from the latest commit record's
    stats — zero footer reads. None when the table predates the log
    or the log is missing stats."""
    v = table_version(table_path)
    if v is None:
        return None
    rec = _read_commit(table_path, v)
    stats = rec.get("stats")
    if stats is None:
        return None
    return {rel: stats.get(rel) for rel in rec["manifest"]}


def _affected_files(
    spark: SparkSession, table_path: str, keys: DataFrame
) -> list[str]:
    """Delta-style file pruning: the file-stats relation (one row per
    live file) range-joined on level and kode against `keys`' (kode,
    level) rows. Stats come from the COMMIT LOG when available
    (captured once at write time — no footer I/O on the merge path)
    and fall back to footer reads for pre-log tables. The stats are
    broadcast and the keys stream past them with no shuffle; the
    collect returns one path per key that lies in a file's range."""
    stats = _log_kode_stats(table_path)
    if stats is None:
        stats = _file_kode_stats(table_path)
    hit = {rel for rel, s in stats.items() if not s}  # unknown range
    with_stats = [
        (rel, int(rel.split("/", 1)[0].split("=", 1)[1]), s[0], s[1])
        for rel, s in stats.items()
        if s
    ]
    if with_stats:
        # keys on the streamed side: with an empty batch the scan stays
        # in the executed plan, so the batch's Observation still reports
        stats_df = F.broadcast(
            local_frame(
                spark,
                with_stats,
                "path string, level int, kmin string, kmax string",
            )
        )
        k = keys.select(F.col(_KODE).alias("_k"), F.col("level").alias("_lv"))
        cond = (
            (stats_df.level == k._lv)
            & (k._k >= stats_df.kmin)
            & (k._k <= stats_df.kmax)
        )
        hit |= {r[0] for r in k.join(stats_df, cond).select("path").collect()}
    return [os.path.join(table_path, rel) for rel in sorted(hit)]


# ---------------------------------------------------------------------------
# Commit log (Delta-lite): versioned manifests + time travel
# ---------------------------------------------------------------------------
#
# Every mutation commits `_log/v{N}.json` holding the FULL relative-
# path manifest after the commit (at 100 TB you would log deltas and
# checkpoint periodically — the small-table simplification is the
# manifest-per-commit). Files a commit removes are MOVED to
# `_history/v{N}/...` instead of deleted: the underscore prefix hides
# them from plain `spark.read.parquet(table)` (which therefore always
# sees exactly the LATEST version), while `read_table_version`
# resolves any manifest against live + history files for snapshot
# reads. `vacuum_history` enforces retention. Single-writer, like the
# rest of the table; a real multi-writer log needs the atomic
# rename-if-absent Delta builds on.

_LOG_DIR = "_log"
_HISTORY_DIR = "_history"


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def table_version(table_path: str) -> int | None:
    """Latest committed version, or None for a pre-log/absent table."""
    d = _log_dir(table_path)
    if not os.path.isdir(d):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _read_commit(table_path: str, version: int) -> dict:
    import json

    with open(os.path.join(_log_dir(table_path), f"v{version:06d}.json")) as f:
        return json.load(f)


def _footer_stats_for(table_path: str, rel_paths: list[str]) -> dict:
    """{relpath: [kode_min, kode_max] | None} read once at commit
    time so the LOG carries the pruning stats (Delta's add-file
    stats) and later merges never re-open footers."""
    import pyarrow.parquet as pq

    out = {}
    for rel in rel_paths:
        full = os.path.join(table_path, rel)
        stat = None
        try:
            md = pq.ParquetFile(full).metadata
            idx = md.schema.names.index(_KODE)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                stat = [min(mins), max(maxs)]
        except Exception:
            pass
        out[rel] = stat
    return out


def _commit(
    table_path: str,
    action: str,
    added: list[str],
    removed: list[str],
    version: int | None = None,
) -> int:
    import json

    prev = table_version(table_path)
    if version is None:
        version = 0 if prev is None else prev + 1
    prev_rec = _read_commit(table_path, prev) if prev is not None else {}
    prev_manifest = prev_rec.get("manifest", [])
    gone = set(removed)
    manifest = [p for p in prev_manifest if p not in gone] + sorted(added)
    prev_stats = prev_rec.get("stats", {})
    stats = {p: s for p, s in prev_stats.items() if p not in gone}
    stats.update(_footer_stats_for(table_path, sorted(added)))
    os.makedirs(_log_dir(table_path), exist_ok=True)
    record = {
        "version": version,
        "action": action,
        "manifest": manifest,
        "added": sorted(added),
        "removed": sorted(removed),
        "stats": stats,
    }
    final = os.path.join(_log_dir(table_path), f"v{version:06d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.rename(tmp, final)  # atomic publish of the commit record
    return version


def _live_files(path: str) -> list[str]:
    out = []
    for entry in sorted(os.listdir(path)):
        d = os.path.join(path, entry)
        if entry.startswith("level=") and os.path.isdir(d):
            out += [
                f"{entry}/{f}"
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            ]
    return out


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate the table while a commit
    was in flight."""


class _commit_lock:
    """Single-writer ENFORCEMENT (not just an assumption): an
    O_CREAT|O_EXCL lock file taken for the swap-and-commit critical
    section. Works on any POSIX filesystem; on object stores the
    equivalent primitive is the atomic put-if-absent Delta builds its
    multi-writer protocol on. A crashed writer leaves the lock behind
    — `vacuum_staging` clears it along with the orphaned staging
    trees."""

    def __init__(self, table_path: str):
        self._path = table_path + "._commit_lock"
        self._fd = None

    def __enter__(self):
        try:
            self._fd = os.open(
                self._path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            raise ConcurrentWriteError(
                f"another writer holds {self._path}; if it crashed, "
                "run vacuum_staging() to clear the stale lock"
            ) from None
        return self

    def __exit__(self, *exc):
        if self._fd is not None:
            os.close(self._fd)
            os.remove(self._path)
        return False


def _swap_files(
    path: str, tmp: str, affected: list[str] | None, action: str = "write"
) -> int:
    """Move staged data files into their level directories, retiring
    exactly the affected files they replace into `_history/v{N}/`
    (hidden from plain reads, kept for time travel), and commit the
    new manifest — all under the commit lock. `affected is None`
    means initial load → the staged tree becomes version 0 wholesale.
    Spark part filenames embed the write-job UUID, so staged names
    never collide with kept files. Returns the committed version."""
    with _commit_lock(path):
        return _swap_files_locked(path, tmp, affected, action)


def _swap_files_locked(
    path: str, tmp: str, affected: list[str] | None, action: str
) -> int:
    import shutil

    if affected is None or not os.path.exists(path):
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return _commit(path, action, _live_files(path), [])
    prev = table_version(path)
    version = 0 if prev is None else prev + 1
    hist = os.path.join(path, _HISTORY_DIR, f"v{version:06d}")
    removed_rel = []
    for old in affected:
        if os.path.exists(old):
            rel = os.path.relpath(old, path)
            dst = os.path.join(hist, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(old, dst)
            removed_rel.append(rel)
    added_rel = []
    for entry in os.listdir(tmp):
        src = os.path.join(tmp, entry)
        if not (entry.startswith("level=") and os.path.isdir(src)):
            continue
        dst_dir = os.path.join(path, entry)
        os.makedirs(dst_dir, exist_ok=True)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.rename(os.path.join(src, f), os.path.join(dst_dir, f))
                added_rel.append(f"{entry}/{f}")
    shutil.rmtree(tmp)
    if prev is None:
        # Pre-log upgrade: the table existed before the commit log,
        # so v0's manifest must cover the FULL live tree, not just
        # this commit's delta — otherwise untouched pre-existing
        # files never appear in _log_kode_stats, are never pruning
        # candidates for later merges, and their stale rows silently
        # survive last-wins MERGE / delete_keys (and read_table_version
        # loses them). _live_files runs after the moves, so it sees
        # the added files plus every untouched legacy file; _commit
        # captures footer stats for all of them.
        return _commit(path, action, _live_files(path), [], version)
    return _commit(path, action, added_rel, removed_rel, version)


def read_table_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Snapshot (time-travel) read: reconstruct the file set of
    `version` from its manifest, resolving each entry against the
    live tree first and `_history/v*/` second (where later commits
    retired it). Files are grouped by root — the live table or one
    `_history/vN` directory, each laid out as `level=N/...` — and each
    root is one declared-schema scan with `level` as its partition
    column: the latest snapshot is a single scan, and live and
    historical files read identically. Raises if a needed file was
    vacuumed."""
    import glob as _glob

    from functools import reduce

    v = table_version(table_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no commit log at {table_path}")
    by_root: dict[str, list[str]] = {}
    for rel in _read_commit(table_path, v)["manifest"]:
        path = os.path.join(table_path, rel)
        if not os.path.exists(path):
            hits = _glob.glob(
                os.path.join(table_path, _HISTORY_DIR, "v*", rel)
            )
            if not hits:
                raise FileNotFoundError(
                    f"{rel} of version {v} has been vacuumed"
                )
            path = hits[0]
        root = os.path.dirname(os.path.dirname(path))
        by_root.setdefault(root, []).append(path)
    if not by_root:
        return local_frame(spark, [], TABLE_SCHEMA)
    parts = [_read(spark, r, files) for r, files in sorted(by_root.items())]
    return reduce(lambda a, b: a.unionByName(b), parts)


def table_history(table_path: str) -> list[dict]:
    """The commit log, oldest first: version, action, file deltas."""
    v = table_version(table_path)
    if v is None:
        return []
    out = []
    for i in range(v + 1):
        c = _read_commit(table_path, i)
        out.append(
            {
                "version": c["version"],
                "action": c["action"],
                "n_files": len(c["manifest"]),
                "n_added": len(c["added"]),
                "n_removed": len(c["removed"]),
            }
        )
    return out


def restore_table(table_path: str, version: int) -> int:
    """RESTORE (Delta-style rollback): make `version`'s file set the
    new LATEST, as a new commit — history is never rewritten, so
    every intermediate version stays readable and a restore is
    itself restorable. Mechanics: files of the target manifest that
    were retired are COPIED back from `_history/` to their original
    live paths (copy, not move — the history copy keeps serving older
    snapshot reads); live files not in the target manifest are
    retired. Also the crash-recovery tool: after a writer died
    mid-swap, restoring the last committed version reassembles
    exactly its file set. Returns the new version number."""
    import glob as _glob
    import shutil

    with _commit_lock(table_path):
        target = _read_commit(table_path, version)["manifest"]
        prev = table_version(table_path)
        new_version = prev + 1
        hist = os.path.join(table_path, _HISTORY_DIR, f"v{new_version:06d}")
        target_set = set(target)
        added = []
        for rel in target:
            live = os.path.join(table_path, rel)
            if os.path.exists(live):
                continue
            level_dir, name = rel.split("/", 1)
            hits = _glob.glob(
                os.path.join(table_path, _HISTORY_DIR, "v*", level_dir, name)
            )
            if not hits:
                raise FileNotFoundError(
                    f"{rel} of version {version} has been vacuumed — "
                    "cannot restore"
                )
            os.makedirs(os.path.dirname(live), exist_ok=True)
            shutil.copy2(hits[0], live)
            added.append(rel)
        removed = []
        for rel in _live_files(table_path):
            if rel in target_set:
                continue
            src = os.path.join(table_path, rel)
            dst = os.path.join(hist, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            removed.append(rel)
        return _commit(
            table_path, f"restore(v{version})", added, removed, new_version
        )


def vacuum_history(table_path: str, keep_versions: int = 2) -> list[str]:
    """Retention: drop `_history/v{N}` trees retired more than
    `keep_versions` commits ago. Versions whose files are vacuumed
    remain listed in the log but raise on read — same contract as
    Delta's VACUUM vs its retained log."""
    import shutil

    current = table_version(table_path)
    hist_root = os.path.join(table_path, _HISTORY_DIR)
    removed = []
    if current is None or not os.path.isdir(hist_root):
        return removed
    cutoff = current - keep_versions
    for entry in sorted(os.listdir(hist_root)):
        if entry.startswith("v") and int(entry[1:]) <= cutoff:
            full = os.path.join(hist_root, entry)
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    return removed


def compact_table(
    spark: SparkSession,
    table_path: str,
    small_bytes: int = 8 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict[int, tuple[int, int]]:
    """OPTIMIZE: bin-pack the small files that file-scoped upserts
    accumulate. Per level partition, every data file under
    `small_bytes` is read back and rewritten as
    ceil(total_small_bytes / target_bytes) kode-sorted files; files
    already at size are NOT touched (same bytes, same inodes). Row
    content is invariant — compaction moves bytes, never changes
    them. Returns {level: (n_files_before, n_files_after)} for the
    compacted levels.

    Scale notes: the decision input is pure file metadata (one stat
    per file); each level compacts independently, so a 100 TB table's
    maintenance job parallelizes per partition and a partition with
    one big file costs nothing. The small-file rewrite pays the same
    one coalesce shuffle OPTIMIZE pays anywhere. Defaults: compact
    below 8 MB, aim for 128 MB outputs (one input split).

    Relationship to `sources/maintenance.compact_table`: that is the
    generic whole-table re-layout (rewrites everything at a target
    size, any parquet table). This is the MANAGED-table OPTIMIZE:
    scoped to small files only, inode-preserving for at-size files,
    aware of the level partitioning and kode sort the merge/delete
    paths maintain."""
    report: dict[int, tuple[int, int]] = {}
    if not _table_exists(table_path):
        return report
    for entry in sorted(os.listdir(table_path)):
        d = os.path.join(table_path, entry)
        if not (entry.startswith("level=") and os.path.isdir(d)):
            continue
        files = [
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        small = [f for f in files if os.path.getsize(f) < small_bytes]
        if len(small) < 2:
            continue  # nothing to gain from rewriting 0-1 files
        level = int(entry.split("=", 1)[1])
        total = sum(os.path.getsize(f) for f in small)
        n_out = max(1, -(-total // target_bytes))
        tmp = table_path + f"._compact_{level}"
        (
            _read(spark, table_path, small)
            .coalesce(n_out)
            .sortWithinPartitions(_KODE)
            .write.mode("overwrite")
            .partitionBy("level")
            .parquet(tmp)
        )
        _swap_files(table_path, tmp, small, action=f"compact(level={level})")
        n_after = len(
            [f for f in os.listdir(d) if f.endswith(".parquet")]
        )
        report[level] = (len(files), n_after)
    return report


def delete_keys(
    spark: SparkSession, table_path: str, keys: DataFrame
) -> int:
    """DELETE WHERE key IN (...) at file scope — the erasure
    counterpart of the file-scoped MERGE (and the right-to-be-
    forgotten primitive at 100 TB): the merge's file-stats pruning
    finds the files that can contain the keys, ONLY those are
    rewritten with an anti-join, every other file keeps its bytes and
    inode. Returns the number of rows actually deleted (Observation-
    free: the count is the difference of two aggregates over the
    affected slice only); a delete that matches no row commits
    nothing.

    `keys` must carry the table's key column (kode_wilayah_kemendagri)
    and `level` (derivable from the kode by the length dispatch —
    callers can use `F.length` mapping if they only hold kodes).

    Isolation caveat (applies to every file-scoped rewrite here,
    merge included): a plain-read DataFrame resolved against the OLD
    file set fails with FILE_NOT_EXIST if executed after a rewrite
    retired those files. Either re-resolve (re-read the path) after
    any merge/delete/compact, or read through the commit log —
    `read_table_version` pins a snapshot whose files survive until
    `vacuum_history` drops them."""
    if not _table_exists(table_path):
        return 0
    keys = keys.select(_KODE, "level").distinct().persist()
    existing = None
    try:
        affected = _affected_files(spark, table_path, keys)
        if not affected:
            return 0
        existing = _read(spark, table_path, affected).persist()
        survivors = existing.join(keys, [_KODE, "level"], "left_anti")
        # slice-sized; the second count reuses the cache
        n_deleted = existing.count() - survivors.count()
        if n_deleted == 0:
            return 0
        tmp = table_path + "._staged"
        _write_staged(_conform(survivors), tmp)
        _swap_files(table_path, tmp, affected, action="delete")
        return n_deleted
    finally:
        keys.unpersist()
        if existing is not None:
            existing.unpersist()


def vacuum_staging(table_path: str) -> list[str]:
    """VACUUM: remove orphaned staging trees (`._staged`,
    `._compact_*`) and a stale `._commit_lock` left behind if a merge
    or compaction died mid-flight. Safe when no writer is running —
    the table directory proper is never written in place, so staging
    artifacts are garbage the moment no upsert/compact call is live.
    Returns the paths removed. (Retired data files live under
    `_history/` and are governed by vacuum_history instead.)"""
    import shutil

    parent = os.path.dirname(table_path) or "."
    base = os.path.basename(table_path)
    removed = []
    if not os.path.isdir(parent):
        return removed
    for entry in os.listdir(parent):
        full = os.path.join(parent, entry)
        if entry.startswith(f"{base}._staged") or entry.startswith(
            f"{base}._compact_"
        ):
            # covers the fixed `._staged` dir, the per-invocation
            # `._staged_<token>` merge stagings, and `._staged_compact`
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
        elif entry == f"{base}._commit_lock":
            os.remove(full)
            removed.append(full)
    return removed


def sync(
    spark: SparkSession,
    geojson_dir: str,
    table_path: str,
    code: str,
    clock: datetime.datetime | None = None,
) -> int:
    """POST /api/db/sync: ingest all files with filename prefix
    `code` and merge. Returns processed-feature count (A5)."""
    return upsert(
        spark, table_path, ingest_features(spark, geojson_dir, code, clock=clock)
    )


def seed_if_empty(
    spark: SparkSession,
    geojson_dir: str,
    table_path: str,
    clock: datetime.datetime | None = None,
) -> bool:
    """S11: ingest the province file iff no level-1 row exists
    (reference server.js:103-157). Returns True if seeding ran."""
    if _table_exists(table_path):
        table = load_wilayah(spark, table_path)
        if table.filter(F.col("level") == 1).limit(1).count() > 0:
            return False
    batch = ingest_features(spark, geojson_dir, clock=clock).filter(
        F.col("level") == 1
    )
    upsert(spark, table_path, batch, clock=clock)
    return True


# ---------------------------------------------------------------------------
# Queries over the table
# ---------------------------------------------------------------------------


def load_wilayah(spark: SparkSession, table_path: str) -> DataFrame:
    """Default read path. When the table has a commit log, the file
    set is resolved from the LATEST committed manifest
    (read_table_version) instead of a directory listing — so a
    reader that races a writer's post-lock swap still sees exactly
    the last committed snapshot (retired-but-not-yet-replaced files
    resolve through _history/, not-yet-committed staged files are
    invisible), closing the crash window STORAGE.md documents.
    Pre-log tables fall back to the plain directory read.

    At 100 TB this is exactly Delta/Iceberg's reader contract:
    manifest-resolved reads are the default, directory listing is
    never trusted for a mutating table."""
    if table_version(table_path) is not None:
        return read_table_version(spark, table_path)
    return _read(spark, table_path, [table_path])


def search(table: DataFrame, q: str, limit: int = 10) -> DataFrame:
    """GET /api/search: case-insensitive substring, (level, name)
    order, top-10; query shorter than 3 chars → empty (F6 guard)."""
    spark = table.sparkSession
    if q is None or len(q) < 3:
        return local_frame(spark, [], "id string, name string, level int")
    return (
        table.filter(F.lower(F.col(_NAMA)).contains(q.lower()))
        .select(
            F.col(_KODE).alias("id"),
            F.col(_NAMA).alias("name"),
            "level",
        )
        .orderBy("level", "name", "id")
        .limit(limit)
    )


def status_counts(table: DataFrame, code: str | None = None) -> DataFrame:
    """GET /api/db/status: one-row envelope of per-level counts under
    an optional prefix (A1 group-count + A3 pivot in one pass)."""
    if code:
        table = table.filter(F.col(_KODE).startswith(code))

    def cnt(lvl: int):
        return F.count(F.when(F.col("level") == lvl, 1))

    return table.agg(
        (F.count(F.lit(1)) > 0).alias("available"),
        cnt(1).alias("provinsi"),
        cnt(2).alias("kabupaten"),
        cnt(3).alias("kecamatan"),
        cnt(4).alias("kelurahan"),
    )


def get_wilayah_geojson(table: DataFrame, code: str) -> DataFrame:
    """§2.8 UDTF twin of plpgsql get_wilayah_geojson(code)
    (reference init_db.sql:40-60; declared but unused by server.js —
    implemented for full parity scope): rows under a code prefix with
    the GeoJSON geometry projected out."""
    return (
        table.filter(F.col(_KODE).startswith(code))
        .select(
            F.col(_KODE).alias("id"),
            F.col(_NAMA).alias("name"),
            "level",
            F.col("geometry").alias("geom"),
        )
        .orderBy("level", "id")
    )


def get_wilayah_by_level(
    table: DataFrame, level: int, parent: str | None = None
) -> DataFrame:
    """§2.8 UDTF twin of get_wilayah_by_level(level, parent)
    (reference init_db.sql:63-84): F1 ∧ F4 (null-escaped prefix) with
    the id/name/geom projection."""
    pred = F.col("level") == level
    if parent is not None:
        pred = pred & F.col(_KODE).startswith(parent)
    return table.filter(pred).select(
        F.col(_KODE).alias("id"),
        F.col(_NAMA).alias("name"),
        F.col("geometry").alias("geom"),
    )


def get_wilayah_counts(table: DataFrame) -> DataFrame:
    """§2.8 UDTF twin of get_wilayah_counts()
    (reference init_db.sql:109-120): TABLE(level, count) — the
    long-form of status_counts' pivoted envelope."""
    return (
        table.groupBy("level")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("level")
    )


def _dispatch(code: str) -> list[tuple[str, int, str]]:
    """SURVEY §2.7: code length → (envelope_key, level, prefix)
    fetch plan (reference server.js:424-476)."""
    n = len(code)
    if n == 2:
        return [("provinsi", 1, code), ("kabupaten", 2, code)]
    if n == 5:
        return [
            ("kabupaten", 2, code),
            ("kecamatan", 3, code),
            ("kelurahan", 4, code),
        ]
    if n == 8:
        return [
            ("kabupaten", 2, code[:5]),
            ("kecamatan", 3, code),
            ("kelurahan", 4, code),
        ]
    return [("kecamatan", 3, code[:8]), ("kelurahan", 4, code)]


def geojson_envelope(table: DataFrame, code: str) -> DataFrame:
    """GET /api/db/geojson: the per-level envelope, each level's rows
    reassembled into a FeatureCollection JSON string (P3/P4/A4,
    toFeatureCollection server.js:486-506).

    One scan: the 2-3 level fetches become one OR-of-conjunctions
    predicate plus a group-by on the envelope key."""
    parts = _dispatch(code)
    pred = None
    part_col = None
    for key, lvl, prefix in parts:
        cond = (F.col("level") == lvl) & F.col(_KODE).startswith(prefix)
        pred = cond if pred is None else (pred | cond)
        part_col = (
            F.when(cond, F.lit(key))
            if part_col is None
            else part_col.when(cond, F.lit(key))
        )
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.col(_NAMA).alias("name"), F.col(_KODE).alias("id")
        ).alias("properties"),
        geometry_struct(F.col("geometry")).alias("geometry"),
    )
    return (
        table.filter(pred)
        .select(part_col.alias("part"), F.col(_KODE).alias("kode"), feature.alias("feature"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.to_json(
                F.struct(
                    F.lit("FeatureCollection").alias("type"),
                    F.array_sort(
                        F.collect_list(F.struct(F.col("kode"), F.col("feature")))
                    )["feature"].alias("features"),
                )
            ).alias("feature_collection"),
        )
        .coalesce(1)
        .sortWithinPartitions("part")
    )


def envelope_auto(
    spark: SparkSession,
    table_path: str,
    geojson_dir: str,
    code: str,
) -> DataFrame:
    """§2.9 dual-source fallback collapsed into one operator: serve
    the envelope from the managed table when it exists and has rows
    (the reference's DB path), else straight from the raw files (the
    reference's /api/geojson file fallback when the DB is down —
    server.js:282-286 + public/app.js:108-112)."""
    if _table_exists(table_path):
        table = load_wilayah(spark, table_path)
        if table.limit(1).count() > 0:
            return geojson_envelope(table, code)
    return file_envelope(spark, geojson_dir, code)


def file_envelope(
    spark: SparkSession, geojson_dir: str, code: str
) -> DataFrame:
    """GET /api/geojson (DB-less fallback, server.js:509-565): the
    same envelope computed straight from the files, with file sizes
    (S5) — the dual-source reader behind one logical operator."""
    from wilayah_aceh_etl_spark.sources.geojson import (
        classify_level,
        read_feature_collections,
    )

    fc = read_feature_collections(spark, geojson_dir, code)
    return (
        fc.select(
            "source_file",
            classify_level(F.col("source_file")).alias("level"),
            F.col("file_size"),
            F.size("features").alias("n_features"),
        )
        .orderBy("source_file")
    )
