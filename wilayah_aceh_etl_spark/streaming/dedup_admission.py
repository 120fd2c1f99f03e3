"""Continuous corpus ingestion with near-dup admission control —
the streaming composition of the dedup index pattern.

Production shape: documents arrive as micro-batches; each batch is
admitted only where it is neither an exact copy nor a verified
near-dup (MinHash band candidates → exact Jaccard) of the ALREADY
ADMITTED corpus; admitted docs (and, at scale, their signatures)
are appended to the index the NEXT batch dedups against. This is
how a training-corpus lake actually grows — dedup_incremental_
admission run forever, with the "existing" side persisted between
batches instead of recomputed.

Scale notes: here the admitted table stores (doc_id, text) and each
batch re-derives the existing side's shingles/signatures — correct
and simple at test scale. At 100 TB the index table stores the BAND
HASHES (doc_id, band_id, band_hash — what the candidate join
actually consumes, ~bands×32 B/doc) plus md5(text); the batch body
is unchanged except the existing side reads the index instead of
re-shingling. The verdicts parquet write is each batch's
materialization barrier — the kept set is derived by re-reading the
sealed verdict partition, never from a lazy plan that could observe
the admitted table after the batch's own append (a lazy plan would
see the batch's own admissions and self-dedup). Nothing funnels
through the driver: verdicts write distributed, kept docs are a
left-semi join against them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.operators.dedup import (
    incremental_near_dup_filter,
)
from wilayah_aceh_etl_spark.session import local_frame

VERDICT_SCHEMA = (
    "doc_id long, is_exact_dup boolean, near_dup_of long, kept boolean"
)


def admission_stream(
    stream: DataFrame,
    admitted_table: str,
    verdicts_table: str,
    checkpoint: str,
    threshold: float = 0.5,
):
    """writeStream builder: per micro-batch, run the incremental
    near-dup filter against the admitted table, write the verdicts
    and the kept documents. Returns the unstarted writeStream
    (caller picks trigger/awaits).

    REPLAY IDEMPOTENCY (foreachBatch is at-least-once — a crash
    between the sink writes and the checkpoint commit re-executes
    the batch): both tables are laid out as `<table>/batch=<id>/`
    partitions written with mode=overwrite, so a replayed batch
    OVERWRITES its own partitions instead of appending duplicates;
    and the existing side excludes the current batch_id's partition,
    so a replay whose admissions already landed does not flag the
    batch's docs as dups of themselves. Replays therefore recompute
    the identical verdicts and converge to the same tables."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_admission_batch(
            batch_df, batch_id, admitted_table, verdicts_table, threshold
        )

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )


def apply_admission_batch(
    batch_df: DataFrame,
    batch_id: int,
    admitted_table: str,
    verdicts_table: str,
    threshold: float = 0.5,
) -> None:
    """One micro-batch of the admission pipeline (module-level so
    replay idempotency is directly testable: calling this twice with
    the same arguments must leave both tables identical)."""
    spark = batch_df.sparkSession
    if os.path.exists(admitted_table):
        existing = (
            spark.read.option("basePath", admitted_table)
            .parquet(admitted_table)
            .filter(F.col("batch") != batch_id)
            .select(*batch_df.columns)
        )
    else:
        existing = local_frame(spark, [], batch_df.schema)
    verdicts = incremental_near_dup_filter(
        existing, batch_df, threshold=threshold
    )
    # The verdicts WRITE is the materialization barrier: it seals the
    # verdict set on disk before the admitted table changes, and the
    # kept set is then derived by re-reading that sealed partition —
    # never from a lazy plan that could observe the batch's own
    # admissions. No driver round-trip: the earlier form collected
    # every verdict row and filtered kept docs via an isin() literal,
    # which both funnels the batch through the driver and grows the
    # plan linearly with batch size (r5 advice); a left-semi join
    # against the written verdicts is O(1) plan size and stays
    # distributed at production batch sizes.
    verdict_part = os.path.join(verdicts_table, f"batch={batch_id}")
    # the select list derives from VERDICT_SCHEMA so the constant
    # stays the one authoritative definition of the verdict table
    (
        verdicts.select(
            *[
                F.col(name).cast(typ).alias(name)
                for name, typ in (
                    c.strip().rsplit(" ", 1)
                    for c in VERDICT_SCHEMA.split(",")
                )
            ]
        )
        .write.mode("overwrite")
        .parquet(verdict_part)
    )
    kept_ids = (
        spark.read.parquet(verdict_part).filter("kept").select("doc_id")
    )
    kept = batch_df.join(kept_ids, "doc_id", "left_semi")
    kept.write.mode("overwrite").parquet(
        os.path.join(admitted_table, f"batch={batch_id}")
    )
