"""kafka_streams_the_clojure_way_spark — a PySpark-native analytics engine
with the query/data-processing capabilities of the reference repo
DaveWM/kafka-streams-the-clojure-way (a Clojure Kafka-Streams tutorial
project), re-expressed Spark-first.

The reference (see /root/reference/src/kafka_streams_the_clojure_way/core.clj)
demonstrates a stateless streaming ETL pipeline three ways: direct DSL,
composable transducers, and a declarative data-driven topology with offline
simulation. This package maps those capabilities onto idiomatic PySpark:

- ``pipelines``  — composable DataFrame->DataFrame transforms (transducers)
- ``plans``      — topology-as-data spec, validation, compiler, simulation
- ``sources``    — file / memory / Kafka sources and sinks
- ``streaming``  — Structured Streaming lifecycle, windows, stateful ops
- ``operators``  — relational + LLM-data-pipeline operators (dedup,
                   similarity search, text analysis, multimodal plumbing)
- ``functions``  — scalar helpers, incl. engine-portable hashing
- ``artifacts``  — the one memo for built indexes, signature tables and
                   models (keyed, source-checked) and the scratch dirs
                   they live in (swept at exit)
"""

from kafka_streams_the_clojure_way_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
