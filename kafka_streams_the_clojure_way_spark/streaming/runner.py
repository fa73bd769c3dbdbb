"""Topology run lifecycle (reference: ``start!``/``stop!`` core.clj:86-95,
``w/build-topology!`` + start at core.clj:207-209).

The runner compiles a topology in streaming mode (source topics bound to
``readStream`` frames) and starts one streaming query per sink entity.
Sinks are pluggable: Kafka (production), memory (tests), or any
``DataFrame -> StreamingQuery`` starter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_the_clojure_way_spark.plans.compiler import (
    compile_topology,
    sink_entities,
)
from kafka_streams_the_clojure_way_spark.plans.spec import Topology

SinkStarter = Callable[[str, DataFrame], StreamingQuery]


class TopologyRunner:
    """Owns the streaming queries of one running topology."""

    def __init__(
        self,
        spark: SparkSession,
        topology: Topology,
        inputs: dict[str, DataFrame],
        sink_starter: SinkStarter,
    ) -> None:
        self.spark = spark
        self.topology = topology
        self.compiled = compile_topology(spark, topology, inputs)
        self._sink_starter = sink_starter
        self.queries: dict[str, StreamingQuery] = {}

    def start(self) -> "TopologyRunner":
        """≙ ``(js/start app)`` (core.clj:91): one query per sink entity."""
        for name in sink_entities(self.topology):
            self.queries[name] = self._sink_starter(name, self.compiled[name])
        return self

    def await_all(self, timeout_sec: float = 120.0) -> None:
        for query in self.queries.values():
            query.awaitTermination(timeout_sec)

    def stop(self) -> None:
        """≙ ``(js/close app)`` (core.clj:93-95)."""
        for query in self.queries.values():
            if query.isActive:
                query.stop()
        self.queries.clear()


def with_observability(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"] | None = None
) -> DataFrame:
    """Attach named ``observe()`` metrics to a (streaming or batch) frame.

    Metrics ride the existing jobs (accumulator-style aggregates inside
    the plan — no extra pass, no shuffle) and surface per micro-batch in
    ``StreamingQueryProgress.observedMetrics[name]`` — the production
    answer to "how many records and were they sane" that does NOT cost a
    second aggregation of a 100 TB stream. Default metrics: row count.
    """
    from pyspark.sql import functions as F

    metrics = metrics or {}
    cols = [F.count(F.lit(1)).alias("n_rows")] + [
        c.alias(k) for k, c in metrics.items()
    ]
    return df.observe(name, *cols)


def last_observed(query: StreamingQuery, name: str) -> dict | None:
    """The most recent observed-metrics row for ``name`` on a query, as a
    plain dict (None before the first completed micro-batch)."""
    progress = query.lastProgress
    if not progress:
        return None
    row = progress.get("observedMetrics", {}).get(name)
    return dict(row.asDict()) if row is not None else None


def as_batch_sink(sink):
    """A ``foreachBatch`` sink: a callable ``(df, batch_id) -> None``
    passes through (None stays None); a parquet directory path becomes
    a callable that appends one file per batch."""
    if not isinstance(sink, str):
        return sink

    def append(df: DataFrame, batch_id: int) -> None:
        df.coalesce(1).write.mode("append").parquet(sink)

    return append


def run_foreach_batch(
    stream: DataFrame,
    serve: Callable[[DataFrame, int], None],
    *,
    checkpoint: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start ``serve(batch_df, batch_id)`` over every NON-EMPTY
    micro-batch of ``stream`` (availableNow emits empty triggers; they
    are skipped), checkpointed at ``checkpoint`` when given. Default
    trigger is ``availableNow`` (drain-what-exists, then stop)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            serve(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def materialize_table(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    seq_col: str,
    *,
    checkpoint: str,
    delete_col: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously materialize a changelog stream as a durable
    latest-per-key parquet table — the full Kafka Streams KTable story
    (RocksDB state + changelog topic -> queryable store) rebuilt on
    Structured Streaming: each micro-batch is applied with
    ``upsert_table`` (latest-by-``seq_col`` wins, optional tombstones),
    so the on-disk table is always a compacted view of everything
    consumed so far, and the checkpoint makes restarts resume exactly
    where they left off (micro-batch replay is idempotent because the
    merge is keyed and seq-guarded — a replayed batch can't regress a
    newer row).

    Scale: per batch this is one keyed shuffle over (current table ∪
    batch). Right-sized for dimension/entity tables (the KTable use
    case); for fact-scale state use a partitioned layout and restrict
    the rewrite to touched partitions (see upsert_table notes).
    """
    from kafka_streams_the_clojure_way_spark.sources.files import upsert_table

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_table(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols,
            seq_col,
            delete_col=delete_col,
        )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
