"""The one curation compile, fast tier: the benchmark's call shape and
edge batches (empty, all-NULL text, one row) through
``compile_ingestion`` on the six-gate topology. The multi-minute
parity and streaming suite is ``tests/test_ingestion_topology.py``
(slow tier)."""

from __future__ import annotations

import os
import sys

import pytest

from kafka_streams_the_clojure_way_spark.plans.ingestion import (
    compile_ingestion,
    ingestion_topology,
)
from tests.test_ingestion_topology import ARRIVING, SCHEMA, _six_gate_kwargs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def six_gate(spark, tmp_path_factory):
    return _six_gate_kwargs(spark, tmp_path_factory.mktemp("six_gate"))


def _survivors(spark, kw, rows) -> dict[str, set[int]]:
    caches: list = []
    topo = ingestion_topology(spark, cache_registry=caches, **kw)
    compiled = compile_ingestion(spark, topo, spark.createDataFrame(rows, SCHEMA))
    out = {
        name: {r.doc_id for r in frame.select("doc_id").collect()}
        for name, frame in compiled.items()
        if name.endswith("-gate") or name == "topic/curated-docs"
    }
    for frame in caches:
        frame.unpersist()
    return out


def test_benchmark_call_shape(spark, six_gate):
    """perfbench's ingestion probe builds the topology with
    ``raw_verdicts=True`` and forces each of its GATES entities from
    ``compile_ingestion(spark, topo, batch)``; ``raw_verdicts=False``
    named the removed chained form and must raise."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from sut import GATES
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))
    caches: list = []
    topo = ingestion_topology(
        spark, raw_verdicts=True, cache_registry=caches, **six_gate
    )
    compiled = compile_ingestion(spark, topo, spark.createDataFrame(ARRIVING, SCHEMA))
    assert {entity for _, entity in GATES} <= set(compiled)
    for frame in caches:
        frame.unpersist()
    with pytest.raises(ValueError, match="chained"):
        ingestion_topology(spark, raw_verdicts=False, **six_gate)


@pytest.mark.parametrize(
    "rows, curated",
    [
        pytest.param([], set(), id="empty"),
        # NULL text: no hash, shingles or grams to route, no embedding,
        # DSIR weight 0.0 >= the 0.0 cutoff — every gate passes it
        pytest.param([(301, None, "en"), (302, None, None)], {301, 302}, id="all-null-text"),
        pytest.param([ARRIVING[1]], {102}, id="one-row"),
    ],
)
def test_edge_batches_compile_and_run(spark, six_gate, rows, curated):
    got = _survivors(spark, six_gate, rows)
    assert len(got) == 7  # six gates and the sink
    assert got["topic/curated-docs"] == curated
    # a gate only ever removes rows
    assert all(curated <= ids <= {r[0] for r in rows} for ids in got.values())
