"""Continuous drift monitoring: per-micro-batch PSI against a trained
reference distribution.

The ingest-wave observability loop a data-ops team runs NEXT TO the
curation topology: train the reference once on the blessed corpus
(``operators/text.psi_reference_counts`` — |sources| x PSI_BINS counts,
model-sized like the DSIR ratio table), then score every arriving
micro-batch against it. PSI needs a per-batch AGGREGATE (a count grid),
not a row-local fold, so the streaming shape is ``foreachBatch`` — the
micro-batch arrives as a plain batch frame and the batch operator
(``psi_against_reference``) applies unchanged; there is no
watermark/state machinery to get wrong because the monitor is stateless
across triggers by design (each wave is scored against the FIXED
reference, not against previous waves — drift of the reference itself
is a retraining decision, not an incremental update).

Scale: per trigger, one batch scan into a (source x bin) grid plus
arithmetic on |sources| x PSI_BINS rows joined to a broadcast literal.
Nothing grows with corpus size or stream lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.text import psi_against_reference
from kafka_streams_the_clojure_way_spark.streaming.runner import (
    as_batch_sink,
    run_foreach_batch,
)


def run_psi_monitor_stream(
    spark: SparkSession,
    stream: DataFrame,
    ref_counts: list[tuple],
    sink,
    *,
    text: str = "text",
    source_col: str = "source",
    checkpoint: str | None = None,
    trigger: dict | None = None,
):
    """Score every micro-batch of ``stream`` against ``ref_counts``
    (from :func:`psi_reference_counts`) and hand the per-source report
    — (source, n_batch, n_ref, psi_r, batch_id) — to ``sink``: a
    callable ``(report_df, batch_id) -> None`` or a parquet directory
    path (appended, one file per trigger). Empty triggers are skipped.
    Returns the started StreamingQuery (default trigger availableNow).

    Alerting is the sink's job on the standard thresholds (PSI >= 0.1
    investigate, >= 0.25 population moved); the monitor stays a pure
    measurement so one run can feed dashboards and gates alike."""
    sink_fn = as_batch_sink(sink)

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        report = psi_against_reference(
            spark, batch_df, ref_counts, text=text, source_col=source_col
        ).withColumn("batch_id", F.lit(batch_id))
        sink_fn(report, batch_id)

    return run_foreach_batch(stream, serve, checkpoint=checkpoint, trigger=trigger)
