"""Streaming semantic admission over the inverted multi-index —
the IMI cell-pair assignment (operators/similarity.py::imi_topk)
run as the admission probe in the dedup_admission replay-idempotent
frame, mirroring how classifier_filter twins the batch serving
query.

Production shape: the two half-space quantizers are an INDEX-BUILD
artifact — trained once, batch-side (imi_train_halves), exactly like
the IVF coarse quantizer — and admission is cell-local: an arriving
vector is compared ONLY against already-admitted vectors in its own
(ca, cb) cell (the multi-index analog of semantic_admission_pruned's
touched-cluster scan; at 100 TB the admitted table is partitioned by
(ca, cb), so the probe reads 1/(C₁·C₂) of the index files). Near
dups straddling a cell boundary are missed — the standard
cell-scoped approximation every IVF-style dedup accepts; tighten
with a probe grid like imi_topk's if recall matters more than reads.

REPLAY IDEMPOTENCY (foreachBatch is at-least-once): both tables are
`<table>/batch=<id>/` partitions written with mode=overwrite, and
the existing side excludes the current batch's partition — the
dedup_admission contract, verbatim, so a replayed batch recomputes
identical verdicts and converges to the same tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.functions.vectors import dot
from wilayah_aceh_etl_spark.operators.similarity import (
    imi_cell_assignments,
)
from wilayah_aceh_etl_spark.session import local_frame

IMI_VERDICT_SCHEMA = (
    "vec_id long, ca long, cb long, n_cell_candidates bigint,"
    " n_near_dups bigint, admit int"
)

_ADMITTED_SCHEMA = (
    "vec_id long, vec array<double>, nrm double, ca long, cb long"
)


def _derive_d(cent_a: DataFrame, cent_b: DataFrame) -> int:
    """The ONE copy of the vector-dimension derivation from the
    standing half-space centroids: d = |half A| + |half B| — summed,
    not doubled, because for odd d imi_train_halves gives half A
    d//2 dims and half B d-d//2, so 2×|A| would under-count by one
    and silently shift the B slice (r10 ADVICE). Both the stream
    builder and the batch entry point call this."""
    return len(cent_a.select("cvec").first()["cvec"]) + len(
        cent_b.select("cvec").first()["cvec"]
    )


def imi_admission_stream(
    stream: DataFrame,
    cent_a: DataFrame,
    cent_b: DataFrame,
    admitted_table: str,
    verdicts_table: str,
    checkpoint: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """writeStream builder: per micro-batch, assign each incoming
    vector its IMI cell pair with the (trained, standing) half-space
    centroids, admit it iff no already-admitted vector in the same
    cell is within `threshold` cosine, and write verdicts + admitted
    vectors to batch-partitioned tables. Returns the unstarted
    writeStream (caller picks trigger/awaits).

    The vector dimension is derived ONCE here from the standing
    centroids via _derive_d (d = |half A| + |half B| — r10 ADVICE),
    so the per-batch path runs no dimension-probe job and an EMPTY
    micro-batch flows through as an empty verdict partition instead
    of killing the stream (r10 review)."""
    d = _derive_d(cent_a, cent_b)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_imi_admission_batch(
            batch_df,
            batch_id,
            cent_a,
            cent_b,
            admitted_table,
            verdicts_table,
            threshold,
            id_col,
            vec_col,
            d=d,
        )

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )


def apply_imi_admission_batch(
    batch_df: DataFrame,
    batch_id: int,
    cent_a: DataFrame,
    cent_b: DataFrame,
    admitted_table: str,
    verdicts_table: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> None:
    """One micro-batch of IMI admission (module-level so replay
    idempotency is directly testable, per the dedup_admission
    precedent). The cell comparison is an EQUI-join on (ca, cb) —
    never all-pairs — and the cosine reuses the hoisted norms both
    sides carry from imi_cell_assignments."""
    spark = batch_df.sparkSession
    if d is None:
        d = _derive_d(cent_a, cent_b)
    assigned = imi_cell_assignments(
        batch_df, cent_a, cent_b, id_col, vec_col, d=d
    )
    if os.path.exists(admitted_table):
        existing = (
            spark.read.option("basePath", admitted_table)
            .parquet(admitted_table)
            .filter(F.col("batch") != batch_id)
            .select("vec_id", "vec", "nrm", "ca", "cb")
        )
    else:
        existing = local_frame(spark, [], _ADMITTED_SCHEMA)
    q = assigned.select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        "ca",
        "cb",
    )
    s = existing.select(
        F.col("vec_id").alias("s_id"),
        F.col("vec").alias("s_vec"),
        F.col("nrm").alias("s_nrm"),
        "ca",
        "cb",
    )
    near = (
        F.round(
            dot("q_vec", "s_vec")
            / (F.col("q_nrm") * F.col("s_nrm")),
            6,
        )
        >= threshold
    )
    # the SUM can never be NULL: every q_id keeps at least one row
    # through the left join and when(...).otherwise(0) is total, so
    # no coalesce is needed (r10 review — same holds in the oracle)
    verdicts = (
        q.join(s, ["ca", "cb"], "left")
        .groupBy("q_id", "ca", "cb")
        .agg(
            F.count("s_id").cast("long").alias("n_cell_candidates"),
            F.sum(F.when(near, 1).otherwise(0))
            .cast("long")
            .alias("n_near_dups"),
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("ca").cast("long").alias("ca"),
            F.col("cb").cast("long").alias("cb"),
            "n_cell_candidates",
            "n_near_dups",
            (F.col("n_near_dups") == 0).cast("int").alias("admit"),
        )
    )
    # select list derives from IMI_VERDICT_SCHEMA so the constant
    # stays the one authoritative definition (dedup_admission's
    # device; the constant was dead before — r10 review)
    verdicts = verdicts.select(
        *[
            F.col(name).cast(typ).alias(name)
            for name, typ in (
                c.strip().rsplit(" ", 1)
                for c in IMI_VERDICT_SCHEMA.split(",")
            )
        ]
    )
    # verdicts WRITE is the materialization barrier (dedup_admission
    # contract): seal the verdict set before the admitted table
    # changes; derive the kept set by re-reading the sealed partition
    verdict_part = os.path.join(verdicts_table, f"batch={batch_id}")
    verdicts.write.mode("overwrite").parquet(verdict_part)
    kept_ids = (
        spark.read.parquet(verdict_part)
        .filter("admit = 1")
        .select(F.col("vec_id"))
    )
    kept = assigned.join(kept_ids, "vec_id", "left_semi").select(
        "vec_id", "vec", "nrm", "ca", "cb"
    )
    kept.write.mode("overwrite").parquet(
        os.path.join(admitted_table, f"batch={batch_id}")
    )
