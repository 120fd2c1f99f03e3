"""Streaming sinks: keyed upsert via foreachBatch.

Structured Streaming's file sinks are append-only; an upserted table
(the reference's S9 semantics, SURVEY §2.1) needs foreachBatch + the
same last-wins window rewrite the batch engine uses
(operators/wilayah.py::upsert). Each micro-batch is merged
transactionally (staged write + swap), so the table is always a
consistent snapshot; the checkpoint makes re-processing idempotent —
a replayed batch produces the same winners.

Scale: like the wilayah MERGE, the generic merge is FILE-SCOPED —
the table is kept range-sorted on the merge key, each batch reads
only the files whose footer key-range intersects its keys, and only
those files are replaced. The staged winners are range-partitioned
with no fixed count: AQE coalesces adjacent ranges to its
post-shuffle partition size, so file size follows bytes. A
micro-batch therefore costs O(files-containing-its-keys), not
O(table) — the property that makes a continuous upsert stream
sustainable at 100 TB. (With a
Delta/Iceberg table this whole module collapses to MERGE INTO — this
is the storage-format-free equivalent.)

Crash recovery: a writer that dies mid-swap leaves its retired
files under `_retired/<token>/` — the next merge's
_recover_crashed_swap restores or drops them by the `_committed`
marker. A writer that dies while HOLDING the commit lock leaves
`<table>._commit_lock`; clear it (plus any orphaned staging) with
operators.wilayah.vacuum_staging(table_path), which is
path-pattern-generic and covers these sink tables too.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.session import local_frame

# underscore prefix hides retired files from plain spark.read.parquet
_RETIRED_DIR = "_retired"


def _recover_crashed_swap(table_path: str) -> None:
    """Heal a swap that crashed mid-flight (call under the commit
    lock, before footer pruning). Per leftover _retired/<token>/:

    - `_committed` marker present → the staged files all made it in;
      the retired originals are superseded → drop the dir.
    - no marker → the swap died before completion: first DELETE any
      partially staged-in files (their names were recorded in the
      token's `_staged_names` before any move), then restore the
      retired originals — the table returns to its exact pre-swap
      state. The rollback-first order matters for COMPACTION swaps,
      where staged files duplicate the retired rows and no
      micro-batch replay exists to re-merge them; for merge swaps it
      also spares the replayed batch a transient two-generation
      merge.
    """
    root = os.path.join(table_path, _RETIRED_DIR)
    if not os.path.isdir(root):
        return
    for token in os.listdir(root):
        d = os.path.join(root, token)
        if not os.path.isdir(d):
            continue
        if not os.path.exists(os.path.join(d, "_committed")):
            names_file = os.path.join(d, "_staged_names")
            if os.path.exists(names_file):
                with open(names_file) as fh:
                    for name in fh.read().splitlines():
                        staged = os.path.join(table_path, name)
                        if name and os.path.exists(staged):
                            os.remove(staged)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(d, f), os.path.join(table_path, f)
                    )
        shutil.rmtree(d)
    try:
        os.rmdir(root)
    except OSError:
        pass


def _swap_with_retirement(
    table_path: str, tmp: str, affected: list[str]
) -> None:
    """The shared crash-safe file swap (call under the commit lock):
    record staged names, retire affected originals to
    _retired/<token>/, move staged files in, seal with `_committed`,
    clean up. Any crash point is recoverable by
    _recover_crashed_swap to either the pre-swap or post-swap
    state — never a mixed one."""
    import uuid

    retire_dir = os.path.join(table_path, _RETIRED_DIR, uuid.uuid4().hex)
    os.makedirs(retire_dir)
    staged = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    with open(os.path.join(retire_dir, "_staged_names"), "w") as fh:
        fh.write("\n".join(staged))
    for old in affected:
        if os.path.exists(old):
            os.rename(
                old, os.path.join(retire_dir, os.path.basename(old))
            )
    for f in staged:
        os.rename(os.path.join(tmp, f), os.path.join(table_path, f))
    with open(os.path.join(retire_dir, "_committed"), "w"):
        pass  # marker: staged files are all in place
    shutil.rmtree(tmp)
    shutil.rmtree(retire_dir)
    try:
        os.rmdir(os.path.join(table_path, _RETIRED_DIR))
    except OSError:
        pass  # another leftover token dir still pending recovery


def _key_file_stats(table_path: str, key_col: str):
    """(path, kmin, kmax) per data file from parquet footers; None
    stats mean unknown → the caller treats the file as affected."""
    import pyarrow.parquet as pq

    out = []
    for f in os.listdir(table_path):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(table_path, f)
        kmin = kmax = None
        try:
            md = pq.ParquetFile(path).metadata
            idx = md.schema.names.index(key_col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                kmin, kmax = min(mins), max(maxs)
        except Exception:
            pass
        out.append((path, kmin, kmax))
    return out


def _affected_by_key(
    spark: SparkSession, table_path: str, batch: DataFrame, key_col: str
) -> list[str]:
    """Footer-range pruning on the leading merge key. Scoping on the
    FIRST key component alone is sound for composite keys: every file
    whose range contains a batch row's leading key is included, so
    the merge window still sees every row of every touched key."""
    stats = _key_file_stats(table_path, key_col)
    if not stats:
        return []
    no_stats = [p for p, kmin, _ in stats if kmin is None]
    with_stats = [s for s in stats if s[1] is not None]
    if not with_stats:
        return no_stats
    sample = with_stats[0][1]
    if isinstance(sample, bool) or not isinstance(sample, (int, str)):
        return [p for p, _, _ in stats]  # unsupported key type: no pruning
    sql_t = "bigint" if isinstance(sample, int) else "string"
    stats_df = local_frame(
        spark, with_stats, f"path string, kmin {sql_t}, kmax {sql_t}"
    )
    keys = batch.select(F.col(key_col).alias("_k")).distinct()
    hit = (
        F.broadcast(stats_df)
        .join(
            keys,
            (keys._k >= stats_df.kmin) & (keys._k <= stats_df.kmax),
            "left_semi",
        )
        .select("path")
        .collect()
    )
    return no_stats + [r["path"] for r in hit]


def merge_last_wins(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> None:
    """Generic keyed last-wins merge into a parquet table: the
    greatest `order_cols` value wins per key (event-time truth — a
    late-arriving older row never overwrites a newer one); batch rows
    win exact order ties against existing rows.

    File-scoped like the wilayah MERGE: only files whose footer
    range on the leading key intersects the batch are read, merged,
    and replaced; the staged output is range-sorted on the keys so
    the NEXT batch prunes just as tightly. One shuffle on the key.

    Schema evolution (Delta's mergeSchema): a batch may carry columns
    the table lacks and vice versa — the union fills either side with
    nulls, so adding a field to the stream never requires a table
    rewrite. NOTE the interaction with file scoping: untouched files
    keep their old physical schema and the default parquet reader
    errors on missing columns, so tables that evolve must be read
    with spark.read.option("mergeSchema", True) (or be compacted,
    which rewrites stragglers onto the current schema).

    Concurrency (optimistic, three guarantees):

    1. The LISTING runs UNDER the commit lock (with crash recovery),
       so it can never observe a torn mid-swap state — a racing
       swap holds the lock from retire to install, and a listing
       taken between those renames would miss keys on both sides.
       Listing is cheap (footer stats), so serializing it is fine;
       only the expensive staging rewrite stays outside the lock.
    2. The SWAP re-runs the footer listing for the batch's keys
       UNDER the final lock and requires it to be identical to the
       staging-time listing; any drift — a listed file vanished, OR
       a concurrent merge installed a NEW file covering the same
       keys (the same-new-key race: two merges inserting a
       previously-absent key would otherwise both validate their
       empty affected sets and both install winners, breaking
       last-wins with duplicate rows) — discards the stale staging
       and restarts the merge against the current file set. Classic
       optimistic concurrency, the same shape as Delta's commit-time
       conflict detection. A table that was absent at listing time
       must still be absent (without that check, two merges racing
       to CREATE a table would let the loser install a second root).
    3. A conflict that lands DURING staging — an affected file
       retired while the winners job is scanning it — surfaces as a
       file-vanished error from Spark; it is caught and treated as
       the same conflict: drop staging, re-list, re-stage.
    4. A transient ConcurrentWriteError from either lock acquisition
       (another writer briefly holding the listing/swap lock) counts
       against the same 3-attempt budget with a short backoff, and
       the staged tree is removed before retrying — no leaked
       `._staged_*` dirs waiting for vacuum_staging.

    `ConcurrentWriteError` after the retry budget means a writer is
    churning the table faster than the merge can re-stage."""
    from pyspark.sql.window import Window

    from wilayah_aceh_etl_spark.operators.wilayah import (
        ConcurrentWriteError,
        _commit_lock,
    )

    def _is_file_vanished(exc: Exception) -> bool:
        s = str(exc)
        return any(
            m in s
            for m in (
                "FileNotFound",
                "FILE_NOT_EXIST",
                "PATH_NOT_FOUND",
                "does not exist",
            )
        )

    import uuid

    batch = batch.withColumn("_prio", F.lit(1))
    # per-invocation staging dir: two merges racing on the same table
    # must never scribble over each other's staged winners (the swap
    # lock serializes installs, not staging). vacuum_staging's
    # `._staged*` prefix covers these if a writer dies mid-flight.
    tmp = table_path + f"._staged_{uuid.uuid4().hex[:8]}"
    for _attempt in range(3):
        affected: list[str] | None = None
        try:
            if os.path.exists(table_path):
                with _commit_lock(table_path):
                    _recover_crashed_swap(table_path)
                    affected = _affected_by_key(
                        spark, table_path, batch, keys[0]
                    )
        except ConcurrentWriteError:
            # guarantee 4: another writer briefly holds the lock —
            # back off and spend one attempt, don't propagate. The
            # backoff must outlast a whole rival critical section,
            # which since the commit-time re-listing includes a small
            # Spark job (seconds, not microseconds) — 0.05 s sleeps
            # would burn all three attempts inside ONE rival hold.
            time.sleep(0.5 * (_attempt + 1))
            continue
        try:
            if affected:
                # mergeSchema: with schema evolution on, affected
                # files can have heterogeneous physical schemas; a
                # single-file-inferred schema would silently drop an
                # evolved column's values from the rewritten winners.
                existing = (
                    spark.read.option("mergeSchema", True)
                    .parquet(*affected)
                    .withColumn("_prio", F.lit(0))
                )
                merged = batch.unionByName(
                    existing, allowMissingColumns=True
                )
            else:
                merged = batch
            w = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order_cols],
                F.col("_prio").desc(),
            )
            winners = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_prio")
            )
            (
                winners.repartitionByRange(*keys)
                .sortWithinPartitions(*keys)
                .write.mode("overwrite")
                .parquet(tmp)
            )
        except Exception as exc:  # noqa: BLE001
            shutil.rmtree(tmp, ignore_errors=True)
            if _is_file_vanished(exc):
                # guarantee 3: an affected file was retired while the
                # staging job read it — conflict, not failure
                continue
            raise
        # same single-writer enforcement as the managed wilayah
        # table: staging is optimistic, the swap runs under the
        # commit lock
        try:
            with _commit_lock(table_path):
                if not os.path.exists(table_path):
                    # new table (or externally deleted since
                    # listing): install the staged winners as the
                    # table
                    os.rename(tmp, table_path)
                    return
                if affected is not None and set(
                    _affected_by_key(spark, table_path, batch, keys[0])
                ) == set(affected):
                    # guarantee 2: the commit-time listing for this
                    # batch's keys is IDENTICAL to the staging-time
                    # listing — no listed file vanished and no
                    # concurrent merge installed a new file covering
                    # the same keys. Crash-recoverable swap (mirrors
                    # the wilayah _history retirement): affected
                    # files are MOVED to a hidden _retired/<token>/
                    # dir (never deleted in place), staged winners
                    # are renamed in, a _committed marker seals the
                    # swap, and only then is anything cleaned up. A
                    # crash at any point is rolled back or completed
                    # by the next merge's _recover_crashed_swap.
                    _swap_with_retirement(table_path, tmp, affected)
                    return
        except ConcurrentWriteError:
            # guarantee 4: swap lock briefly held by another writer
            time.sleep(0.5 * (_attempt + 1))
        except Exception:
            # unexpected failure INSIDE the swap critical section
            # (e.g. the re-listing's Spark job dies): not a conflict,
            # but the staged tree must not leak while propagating
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # conflict: a concurrent writer retired one of our inputs or
        # installed a new file over our keys after we listed, or the
        # table appeared after we listed it as absent (affected is
        # None but the path now exists — guarantee 2), or the swap
        # lock was contended. The staged winners are stale; drop
        # them and re-merge against the current file set.
        shutil.rmtree(tmp, ignore_errors=True)
    raise ConcurrentWriteError(
        f"merge_last_wins({table_path}): affected files kept vanishing "
        "under concurrent rewrites after 3 attempts"
    )


def upsert_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    order_cols: list[str],
):
    """writeStream → keyed upserted parquet table. Returns the
    StreamingQuery (caller picks the trigger/awaits)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_last_wins(
            batch_df.sparkSession, table_path, batch_df, keys, order_cols
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
    )


def compact_sink_table(
    spark: SparkSession,
    table_path: str,
    keys: list[str],
    small_bytes: int = 8 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """OPTIMIZE for merge_last_wins tables: a continuous upsert
    stream accumulates one small file set per micro-batch; this
    bin-packs every data file under `small_bytes` into
    ceil(total/target_bytes) files, RANGE-SORTED on the merge keys
    so the footer pruning the next merge relies on stays tight —
    and rewrites stragglers onto the CURRENT schema (mergeSchema),
    which is how an evolved table sheds its pre-evolution physical
    schemas. At-size files keep their bytes and inodes.

    Crash-safe via the same _retired/<token> + _committed protocol
    as the merge swap (with staged-name rollback, which compaction
    NEEDS: its staged files duplicate retired rows and no batch
    replay exists to re-merge a half-applied swap).

    Concurrency: the commit lock is held for the WHOLE operation —
    recovery, file listing, the rewrite, and the swap. Listing or
    staging outside the lock would let a racing micro-batch merge
    replace some of the listed files mid-compaction, and the
    compacted output would resurrect their pre-merge rows; and a
    pending crashed swap must be healed BEFORE the listing, or the
    listing reads half-applied state. A merge that arrives while
    compaction holds the lock fails fast with ConcurrentWriteError
    (retriable), and a merge that LISTED before compaction started
    detects the retired inputs at its own swap validation and
    re-stages (see merge_last_wins) — neither path can install
    duplicates. Returns (n_files_before, n_files_after)."""
    if not os.path.isdir(table_path):
        return (0, 0)
    from wilayah_aceh_etl_spark.operators.wilayah import _commit_lock

    with _commit_lock(table_path):
        _recover_crashed_swap(table_path)
        files = [
            os.path.join(table_path, f)
            for f in os.listdir(table_path)
            if f.endswith(".parquet")
        ]
        small = [f for f in files if os.path.getsize(f) < small_bytes]
        if len(small) < 2:
            return (len(files), len(files))
        total = sum(os.path.getsize(f) for f in small)
        n_out = max(1, -(-total // target_bytes))
        tmp = table_path + "._staged_compact"
        (
            spark.read.option("mergeSchema", True)
            .parquet(*small)
            .repartitionByRange(n_out, *keys)
            .sortWithinPartitions(*keys)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        _swap_with_retirement(table_path, tmp, small)
        n_after = len(
            [f for f in os.listdir(table_path) if f.endswith(".parquet")]
        )
    return (len(files), n_after)
