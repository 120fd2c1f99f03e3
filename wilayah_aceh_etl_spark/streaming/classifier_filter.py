"""Streaming model-based quality filter — the fastText-style
classifier serving pass (plans/round9_queries.py::
corpus_quality_classifier_serving) run continuously over arriving
micro-batches.

Production shape: the classifier is an INDEX-BUILD artifact —
trained once, batch-side, exactly like the IVF coarse quantizer —
and serving is a per-document map-side expression (hashed token-rate
features → one literal-weights dot → threshold), so the streaming
twin is DEFINITIONALLY identical to the batch pass: per-doc scores
have no cross-batch state, every micro-batch is scored independently,
and replay overwrites its own partition (the quality_monitor
idempotency layout). This is how a crawl-ingest loop actually
deploys a quality filter: retrain offline, hot-swap weights, keep
scoring the stream.

Scale: per batch one tokenize + two hash aggregates + a 65-term dot
per doc; nothing crosses batches, nothing accumulates on the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classifier_filter_stream(
    stream: DataFrame,
    w: list[float],
    b: float,
    out_table: str,
    checkpoint: str,
    featurize: Callable[[DataFrame], DataFrame],
):
    """writeStream builder: score each micro-batch's documents with
    the (driver-held, literal-embedded) weight vector and append the
    per-doc verdicts to `<out_table>/batch=<id>/` with overwrite —
    replay-idempotent like the quality monitor. `featurize` maps the
    raw batch to (doc_id, x) feature vectors; it is injected by the
    caller so this module stays import-independent of the plan
    layer. Returns the unstarted writeStream."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        dot as vdot,
    )

    warr = array_literal(w)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        xv = featurize(batch_df)
        m = vdot("x", warr) + F.lit(float(b))
        xv.select(
            "doc_id",
            F.round(m * 16777216).cast("long").alias("logit_q"),
            (m > 0).cast("int").alias("keep"),
        ).write.mode("overwrite").parquet(f"{out_table}/batch={batch_id}")

    return stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
