"""The checkpoint file manager of local engine sessions.

``get_spark`` gives local sessions Spark's FileSystem-based checkpoint
file manager, so streaming metadata logs and state-store files are
written without the process forks of the FileContext manager's local
rename. These tests pin the resolved class, the no-clobber guarantee a
metadata log relies on, and that a checkpoint written by the default
manager restarts under the engine's.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from py4j.protocol import Py4JJavaError

from kafka_streams_the_clojure_way_spark.plans import compile_topology
from kafka_streams_the_clojure_way_spark.queries import ORACLES
from kafka_streams_the_clojure_way_spark.queries.reference_queries import (
    donations_of,
    flagship_topology,
    purchases_of,
)
from kafka_streams_the_clojure_way_spark.session import LOCAL_CHECKPOINT_FILE_MANAGER
from kafka_streams_the_clojure_way_spark.sources.files import load_table

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _file_manager(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def test_local_session_resolves_filesystem_manager(spark, tmp_path):
    # the name also guards the class's package, which moved in Spark 4
    fm = _file_manager(spark, tmp_path.as_uri())
    assert fm.getClass().getName() == LOCAL_CHECKPOINT_FILE_MANAGER


def test_create_atomic_refuses_an_existing_batch_file(spark, tmp_path):
    fm = _file_manager(spark, tmp_path.as_uri())
    batch = spark._jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    out = fm.createAtomic(batch, False)
    out.write(b"first")
    out.close()
    again = fm.createAtomic(batch, False)
    again.write(b"second")
    with pytest.raises(Py4JJavaError) as err:
        again.close()
    exists = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def _land(spark, events, in_dir: str, stage: str, part: int) -> None:
    """Write one slice of ``events`` as a single parquet file, then move it
    into the watched directory, as a producer renames a finished file in."""
    events.filter(events.event_id % 4 == part).coalesce(1).write.parquet(stage)
    (name,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.rename(os.path.join(stage, name), os.path.join(in_dir, f"part{part}.parquet"))


def _start_flagship(spark, in_dir: str, sink: str, ckpt: str):
    events = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
    compiled = compile_topology(
        spark,
        flagship_topology(),
        {
            "topic/purchase-made": purchases_of(events),
            "topic/humble-donation-made": donations_of(events),
        },
    )
    return (
        compiled["topic/large-transaction-made"]
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _log_manager(query) -> str:
    return query._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


def test_default_manager_checkpoint_restarts_on_engine_manager(spark, sf_dir, tmp_path):
    in_dir, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    os.mkdir(in_dir)
    events = load_table(spark, sf_dir, "events")
    for part in (0, 1):
        _land(spark, events, in_dir, str(tmp_path / f"stage{part}"), part)

    engine_manager = spark.conf.get(MANAGER_CONF, None)
    spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        q = _start_flagship(spark, in_dir, sink, ckpt)
        try:
            q.processAllAvailable()
            assert _log_manager(q) == FILE_CONTEXT_MANAGER
        finally:
            q.stop()
    finally:
        if engine_manager is None:
            spark.conf.unset(MANAGER_CONF)
        else:
            spark.conf.set(MANAGER_CONF, engine_manager)

    for part in (2, 3):
        _land(spark, events, in_dir, str(tmp_path / f"stage{part}"), part)
    q = _start_flagship(spark, in_dir, sink, ckpt)
    try:
        q.processAllAvailable()
        assert _log_manager(q) == LOCAL_CHECKPOINT_FILE_MANAGER
    finally:
        q.stop()

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{in_dir}/*.parquet')")
        want = sorted(con.sql(ORACLES["ref_topology_large_transactions"]).fetchall())
        got = sorted(
            con.sql(f"SELECT user_id, amount FROM read_parquet('{sink}/*.parquet')").fetchall()
        )
    finally:
        con.close()
    assert want  # a weak oracle if no event survives
    assert got == want
