"""In-memory sources/sinks for tests and offline simulation
(reference: experiment inputs at core.clj:226-234; the `view-messages`
read-everything idiom at core.clj:67-74).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def start_memory_sink(df: DataFrame, name: str, *, complete: bool = False) -> StreamingQuery:
    """Write a streaming frame to an in-memory table for assertions —
    the test-side stand-in for a Kafka sink topic."""
    mode = "complete" if complete else "append"
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def drain(query: StreamingQuery, timeout_sec: float = 120.0) -> None:
    """Block until an availableNow query has processed everything —
    ≙ the reference's poll-until-inactivity (core.clj:72-74)."""
    query.awaitTermination(timeout_sec)
