"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
settings are designed to hold on a large multi-executor cluster: AQE for
runtime re-planning (partition coalescing + skew-join splitting), Arrow for
any Pandas-UDF hop, UTC session time for deterministic timestamp semantics.

Nothing in the engine *requires* this factory — every operator works on a
plain SparkSession (the driver harness constructs its own) — but sessions
built here get the scale-oriented defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale-out behavior. On a real cluster the only knobs
#: expected to change are shuffle partitions (~2-3x total cores) and
#: maxPartitionBytes (keep scan tasks ~128-256 MiB).
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB
    # where static plans mis-guess sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for any Pandas UDF / applyInPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp handling across engines (oracle is DuckDB).
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables (region/nation/customer at test SFs) broadcast freely;
    # AQE still demotes if runtime size exceeds this.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan split size — 128 MiB tasks keep 1000-executor clusters busy
    # without tiny-task overhead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # Progress bars write \r-control lines that corrupt stdout capture
    # (the driver parses bench.py's single JSON stdout line).
    "spark.ui.showConsoleProgress": "false",
    # PySpark 4 captures the Python call site of every DataFrame and
    # Column call for analysis-error messages: about four extra py4j
    # round trips per API call, which Spark documents as "non-trivial
    # performance overhead". Plan construction pays it on every probe.
    # Off, an analysis error loses only its Python call-site block.
    # Static conf: only sessions built by get_spark carry it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: The checkpoint file manager ``get_spark`` gives local sessions (Spark 4.x
#: package; Spark 3.5 had it one package up, without ``checkpointing``).
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "kstcw-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                cpus if cpus.isdigit() else "32",
            )
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    # In local mode the driver JVM IS the executor: Spark's 1g default is
    # sized for a driver that only coordinates, not for 32 in-process task
    # threads + a 190-query registry's cached/checkpointed frames in one
    # heap (observed: suite-wide JVM OOM at the registry sweep). Static
    # conf — must be set before the JVM exists, so it lives here, not in
    # apply_engine_conf. Cluster deployments size executors separately.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    if master.startswith("local"):
        # Every trigger writes four metadata logs (offsets, sources/0, the
        # file sink's _spark_metadata, commits), and stateful queries write
        # state-store files, each as create-temp-then-rename. Without
        # libhadoop, Spark's default FileContext manager forks `readlink`
        # four times per local rename (RawLocalFileSystem.getFileLinkStatus):
        # 32 process starts a trigger. The FileSystem manager forks none.
        # On file: paths the guarantee is the same: FileContext's local
        # rename is itself stat-then-rename, and this manager refuses an
        # existing batch file with FileAlreadyExistsException, which
        # HDFSMetadataLog reports as a concurrent writer. Checksums (.crc)
        # and the file layout stay, so old checkpoints restart. Each file
        # create still forks one `chmod` (RawLocalFileSystem.setPermission).
        # Cluster masters keep the default: on HDFS the FileContext rename
        # is the atomic no-clobber rename the logs rely on.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            LOCAL_CHECKPOINT_FILE_MANAGER,
        )
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of ENGINE_CONF to an existing
    session (e.g. the one the driver harness hands us)."""
    for key, value in ENGINE_CONF.items():
        if key.startswith(("spark.sql.",)):
            try:
                spark.conf.set(key, value)
            except Exception:
                pass  # static conf on a running session — keep going
    return spark
