"""Offline topology simulation (reference: ``we/run-experiment``,
core.clj:224-234).

The reference runs the *same* topology IR on literal in-memory inputs with
no broker, annotating every entity with its output records. Spark's
streaming/batch unification makes this nearly free: compile the topology
in batch mode with ``createDataFrame`` inputs and collect per-entity
outputs. This doubles as the engine's correctness-test harness
(SURVEY.md §5.2).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology
from kafka_streams_the_clojure_way_spark.plans.spec import Topology, parents_of


def run_experiment(
    spark: SparkSession,
    topology: Topology,
    inputs: dict[str, Any],
) -> dict[str, list[dict[str, Any]]]:
    """Run ``topology`` on literal inputs; return every entity's output rows.

    ``inputs`` maps source-entity name -> one of:
      - a DataFrame,
      - ``(rows, schema)`` tuple for ``spark.createDataFrame``,
      - a list of dict rows (schema inferred — dev ergonomics for the
        reference's schemaless EDN records, SURVEY.md §1.2).

    Returns ``{entity: [row-dict, ...]}`` — ≙ the ``::we/output``
    annotations read at core.clj:240-244.
    """
    bound: dict[str, DataFrame] = {}
    for name, value in inputs.items():
        if isinstance(value, DataFrame):
            bound[name] = value
        elif isinstance(value, tuple):
            rows, schema = value
            bound[name] = spark.createDataFrame(rows, schema)
        else:
            bound[name] = spark.createDataFrame(value)

    compiled = compile_topology(spark, topology, bound)
    # Sources echo their inputs (like the reference annotating input topics
    # with the injected records); every entity is collected.
    return {name: [row.asDict(recursive=True) for row in df.collect()] for name, df in compiled.items()}

