"""File-format sources. The reference only reads Kafka topics
(core.clj:29-48); file scans are part of the §2.2 superset surface and are
"free" in Spark — but we centralize them so scan-level scale knobs
(partition sizing, schema hints) live in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The driver-generated test tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Plain parquet scan — Catalyst handles filter
    pushdown / column pruning; never pre-collect or cache here.

    Two session confs are pinned on every call (runtime-settable,
    idempotent, and required even when the caller built its own session —
    the driver harness does):

    - ``spark.sql.legacy.parquet.nanosAsLong``: when `events.ts` is
      parquet TIMESTAMP(NANOS) (some generator versions), Spark 4 refuses
      it natively ([PARQUET_TYPE_ILLEGAL]); with the legacy conf it
      arrives as BIGINT epoch-nanos and we rebuild a micros
      TimestampType column. Generators that write micros/millis land as a
      native timestamp already, so the rebuild is gated on the loaded
      dtype actually being bigint.
    - UTC session time zone: date/time rendering must agree with the
      DuckDB oracle, which treats the naive parquet timestamps as-is.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Schema via the per-process STATIC-SCHEMA cache (read_static_schema):
    # the driver-generated test tables are immutable for the life of a
    # process, and `spark.read.parquet` without a schema pays a footer
    # schema-inference JOB per call (~80 ms measured on local[32]) — a
    # pure fixed cost repeated for every query x table x bench pass. With
    # the cached schema the read is listing-only (~16 ms). This is
    # metadata caching (what a metastore provides), never result caching:
    # file listing still happens per read, and every query still computes
    # from the parquet bytes.
    df = read_static_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Normalize to TimestampType (ltz): the engine's time functions
            # (unix_micros, window, watermarks) expect it, and with the UTC
            # session zone the naive values are preserved bit-for-bit.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def with_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guarantee at least ``min_partitions`` (default: the session's
    defaultParallelism) for CPU-bound downstream compute.

    Compute-heavy operators (minhash/simhash signatures, per-token md5,
    vector math) call this on their input: per-row CPU there dwarfs the
    cost of a round-robin shuffle of the raw rows. It is a NO-OP whenever
    the scan already yields enough splits — the 100 TB case, where file
    layout provides thousands of tasks and an extra full-corpus shuffle
    would be pure waste. It only fires on under-split inputs (e.g. the
    single-row-group test parquet files, which Spark cannot split below
    row-group granularity — measured 5x on the signature stage at sf0.1).

    **It runs nothing.** The partition count is read off ``df``'s
    physical plan (:func:`_planned_partitions`): scan splits come from
    the file listing the planner already did, and a post-shuffle count
    is estimated from the plan's size statistics the way AQE coalesces.
    Asking Spark for the RDD instead finalises the adaptive plan, which
    runs its broadcast and shuffle stages — jobs the caller's own action
    then repeats.

    Cheap relational plans (scan -> partial agg -> shuffle) must NOT use
    this: partial aggregation exists precisely to avoid shuffling the
    fact table.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    current = _planned_partitions(spark, qe, qe.executedPlan())
    if current is None or current >= target:
        return df
    return df.repartition(target)


def _planned_partitions(spark: SparkSession, qe, node) -> int | None:
    """Partitions the physical plan ``node`` (of query execution
    ``qe``) yields, without running it; None when a leaf's count cannot
    be read off the plan. Follows the side that carries the rows: the
    streamed side of a broadcast join, every input of a union. A shuffle
    that AQE coalesces yields about one partition per
    ``coalescePartitions.minPartitionSize`` of the plan's estimated
    output (the ``parallelismFirst`` rule, capped by the shuffle's
    width); an explicit ``repartition(n)``, or any shuffle without AQE,
    keeps its width. A cached
    frame reports its materialised partitions, or its plan's before
    first use."""
    from py4j.protocol import Py4JError

    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":  # not yet executed: the initial plan
        return _planned_partitions(spark, qe, node.executedPlan())
    if name == "InMemoryTableScanExec":
        cache = node.relation().cacheBuilder()
        if cache.isCachedColumnBuffersLoaded():
            return cache.cachedColumnBuffers().getNumPartitions()
        return _planned_partitions(spark, qe, node.relation().cachedPlan())
    if name == "ShuffleExchangeExec":
        # the declared partitioning: numPartitions() would build the
        # shuffle dependency, which executes the child
        width = node.outputPartitioning().numPartitions()
        adaptive = qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        if not adaptive or node.shuffleOrigin().toString() == "REPARTITION_BY_NUM":
            return width
        jvm = spark.sparkContext._jvm
        per_part = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
        )
        size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        return min(width, max(1, -(-size // per_part)))
    kids = node.children()
    if kids.size() == 0:
        try:
            rdds = node.inputRDDs()
        except Py4JError:
            return None
        return sum(rdds.apply(i).getNumPartitions() for i in range(rdds.size()))
    if name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
        streamed = 0 if node.buildSide().toString() == "BuildRight" else 1
        return _planned_partitions(spark, qe, kids.apply(streamed))
    if name == "UnionExec":
        parts = [_planned_partitions(spark, qe, kids.apply(i)) for i in range(kids.size())]
        return None if None in parts else sum(parts)
    return _planned_partitions(spark, qe, kids.apply(0))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read several test tables as a dict (lazy — no jobs run)."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def read_csv(
    spark: SparkSession, path: str, schema=None, *, header: bool = True, **options
) -> DataFrame:
    """CSV scan. An explicit ``schema`` is strongly preferred: schema
    inference is an extra full pass over the data — unacceptable at scale
    (and silently type-flaky). Pushdown note: CSV supports column pruning
    but not predicate pushdown; convert hot datasets to parquet."""
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema=None, *, multiline: bool = False, **options
) -> DataFrame:
    """JSON-lines scan (``multiline`` for whole-file documents). Same
    schema discipline as CSV: pass a StructType; inference double-scans."""
    reader = spark.read.options(multiLine=multiline, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Write a frame as parquet (default) / orc / csv / json. Parquet is
    the primary interchange at scale (columnar, statistics, pushdown);
    orc is the peer columnar format for ecosystems standardized on it;
    csv/json exist for edge interop."""
    writer = df.write.mode("overwrite").options(**options)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        writer.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: per-process parquet schema cache for STATIC-SCHEMA datasets (the
#: persisted indexes' tables): `spark.read.parquet` runs a footer
#: schema-inference JOB per call, and the composed ingestion compile
#: reads ~8 index datasets per trigger — 8 scheduler round-trips for
#: bytes whose schema cannot have changed (upsert/compact append or
#: rewrite the SAME columns; only a rebuild changes schema, and builds
#: invalidate below).
_SCHEMA_CACHE: dict[str, object] = {}

#: change-token-validated DataFrame cache for the same datasets
#: (r11): ``spark.read.parquet`` builds a fresh InMemoryFileIndex per
#: call — a driver-side LISTING of the dataset tree (~0.1-0.25 s for a
#: partitioned index's hundreds of leaf dirs), repeated for every probe
#: of every query and ~10x per streaming trigger. A cached DataFrame is
#: reused ONLY while the dataset's :func:`change_token` is unchanged —
#: any append/compact/rebuild writes part-files with fresh task-UUID
#: names, and an in-place rewrite of a single-file table changes its
#: size or mtime, so the token flips and the next read lists fresh. On
#: filesystems where the local walk fails (object stores) the token is
#: None and every read stays fresh. Metadata caching only: every query
#: still computes from the parquet bytes.
_DF_CACHE: dict[tuple, tuple[object, DataFrame]] = {}


def change_token(path: str):
    """The engine's one "has this dataset changed?" test: sorted
    ``(relpath, name, size, mtime_ns)`` over the data files of ``path``
    (a single file or a directory tree; names starting with ``_`` or
    ``.`` are not data). Part-file names embed task UUIDs, so a rewrite
    changes the token even within the filesystem's timestamp
    granularity. None when ``path`` is missing or unreadable — callers
    then fall back to their explicit-invalidation contract."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((".", os.path.basename(path), st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        entries = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                entries.append((rel, f, st.st_size, st.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        return None


def read_static_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose SCHEMA is stable across appends —
    the persisted-index dataset contract (bands/hashes/bits/keys/
    postings/...). First read per (process, path) pays the normal
    inference job and caches the schema; later reads pass it explicitly,
    so re-probing an index costs file listing only, no footer job — and
    (r11) even the listing is skipped while the dataset's file token is
    unchanged (see ``_DF_CACHE``: appended files are ALWAYS seen,
    because an append changes the token). Rebuilds that might change
    schema must call :func:`invalidate_static_schema` on the dataset's
    root (the index build_* functions do, via their meta invalidation
    hook)."""
    key = os.path.normpath(path)
    token = change_token(key)
    dkey = (key, id(spark))
    if token is not None:
        hit = _DF_CACHE.get(dkey)
        if hit is not None and hit[0] == token:
            return hit[1]
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    if token is not None:
        _DF_CACHE[dkey] = (token, df)
    return df


def invalidate_static_schema(prefix: str) -> None:
    """Drop cached schemas AND cached listing-token DataFrames for every
    dataset under ``prefix`` (an index root or a single dataset dir).
    Called by the index build functions; needed manually only for
    out-of-process REBUILDS of a reused path — the same contract as
    ``dedup.invalidate_index_meta``."""
    norm = os.path.normpath(prefix)
    for key in [k for k in _SCHEMA_CACHE if k == norm or k.startswith(norm + os.sep)]:
        _SCHEMA_CACHE.pop(key, None)
    for dkey in [
        k
        for k in _DF_CACHE
        if k[0] == norm or k[0].startswith(norm + os.sep)
    ]:
        _DF_CACHE.pop(dkey, None)


def write_partitioned(
    df: DataFrame, path: str, *partition_cols: str, fmt: str = "parquet", **options
) -> None:
    """Write a hive-style partitioned dataset (``path/col=value/...``).

    THE layout decision at 100 TB: partition by the dominant filter
    dimension (almost always ingest date/hour) so partition pruning turns
    full-corpus scans into per-slice scans, and so retention/backfill is
    a directory drop instead of a rewrite. Keep partition cardinality in
    the thousands, not millions — each partition should hold >=1 full
    row group (~128 MiB), else metadata and small files dominate.
    """
    (
        df.write.mode("overwrite")
        .options(**options)
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def read_partitioned(spark: SparkSession, path: str, **options) -> DataFrame:
    """Read a hive-style partitioned dataset. Partition columns come back
    as real columns; filters on them prune directories BEFORE any file
    I/O (``PartitionFilters`` in the scan node), and equi-joins against a
    filtered dimension prune at runtime via dynamic partition pruning."""
    return spark.read.options(**options).parquet(path)


def write_range_sorted(
    df: DataFrame, path: str, col: str, num_files: int, **options
) -> None:
    """Write parquet range-clustered on ``col``: repartitionByRange gives
    each output file a disjoint value range and sortWithinPartitions
    orders rows inside, so every file AND every row group carries tight
    min/max statistics for ``col``.

    This is the layout lever that makes point/range predicates on a
    NON-partition column cheap at 100 TB: the reader skips whole files
    and row groups from footer stats alone (no data I/O), the same win
    partition pruning gives the partition column. Pick ``col`` = the
    second-most-filtered dimension after the partition key. Cost: one
    range-partitioning shuffle (sampling pass + exchange) at write time.
    """
    (
        df.repartitionByRange(num_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .options(**options)
        .parquet(path)
    )


def _interleave_bits(a, b, bits: int):
    """Morton (Z-order) interleave of two ``bits``-bit bucket ids, built
    as a constant-depth JVM expression tree (no UDF)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int,
    *,
    bits: int = 8,
    **options,
) -> None:
    """Write parquet Z-order-clustered on TWO columns: bucketize each
    column against sampled quantile boundaries (``approxQuantile`` — the
    same sample-based step Delta's OPTIMIZE ZORDER runs), Morton-
    interleave the bucket ids, then range-partition + sort on the Z key.

    Where ``write_range_sorted`` gives ONE column tight min/max file
    stats, Z-order gives BOTH columns moderately tight stats in every
    file, so point/range predicates on either (or both) skip most files
    and row groups from footer stats alone. This is the multi-dimension
    layout lever at 100 TB when two filter dimensions matter and neither
    is the partition key. Cost: one quantile sample pass + one range
    shuffle at write time.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qa, qb = df.stat.approxQuantile([col_a, col_b], probs, 0.001)

    def bucket(col: str, bounds: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in bounds])
        # index of the first boundary >= value == count of boundaries < value
        return F.array_size(F.filter(arr, lambda x: x < F.col(col).cast("double")))

    zkey = _interleave_bits(
        bucket(col_a, qa).cast("long"), bucket(col_b, qb).cast("long"), bits
    )
    (
        df.withColumn("__zkey", zkey)
        .repartitionByRange(num_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .options(**options)
        .parquet(path)
    )


def overwrite_partitions(df: DataFrame, path: str, *partition_cols: str, **options) -> None:
    """Incremental backfill write: overwrite ONLY the hive partitions
    present in ``df``, leaving every other partition untouched (dynamic
    partition overwrite).

    This is how a 100 TB partitioned corpus is corrected/reprocessed:
    recompute one day/source slice and swap just those directories —
    static overwrite mode would drop the whole table first. Session-conf
    driven, so it is pinned here per-write rather than globally."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .options(**options)
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_files(
    spark: SparkSession, path: str, *, dest: str, target_file_mb: int = 128,
    transform=None, **options
) -> int:
    """Write a compacted copy of the parquet dataset at ``path`` to the
    fresh directory ``dest``, with the small files merged toward
    ``target_file_mb`` outputs; returns the new file count. ``path`` is
    never touched, so its readers keep their snapshot — the caller
    makes ``dest`` visible (an index repoints its CURRENT pointer, see
    ``dedup.compact_index``). ``transform`` (DataFrame -> DataFrame,
    e.g. a tombstone anti-join) is applied during the rewrite, folding
    logical deletes in physically without a second pass.

    Small files are the silent killer of long-lived ingest layouts (every
    streaming micro-batch and every backfill adds a few): at 100 TB the
    scan's task count — and the NameNode/listing pressure — follows file
    count, not data size. Sizing from the actual on-disk bytes keeps the
    rewrite a pure coalesce of row groups."""
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    df.repartition(n_files).write.mode("overwrite").options(**options).parquet(dest)
    return n_files


def compact_partitioned(
    spark: SparkSession, path: str, *partition_cols: str, dest: str,
    transform=None, **options
) -> None:
    """Write a compacted copy of the hive-partitioned dataset at ``path``
    to ``dest`` with ONE file per partition directory — the layout the
    partitioned writers produce on first build. Long-running ingestion
    (``minhash_index_upsert`` / ``ivf_index_upsert`` append one file per
    touched directory per micro-batch) accretes files until scan
    PLANNING — directory listing, footer reads, task scheduling —
    dominates probe cost; this restores the build-time layout without
    retraining anything. ``transform`` and the untouched source: see
    :func:`compact_files`."""
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .options(**options)
        .partitionBy(*partition_cols)
        .parquet(dest)
    )


def _swap_dataset(path: str, tmp: str) -> None:
    """Replace ``path`` with ``tmp`` via rename-aside: old data is moved
    out of the way, new data renamed in, old deleted last — a crash at
    any step leaves a complete dataset (old or new) at ``path``. Not
    safe for concurrent readers: the rename-aside window hides both."""
    import shutil

    old = path.rstrip("/") + ".__swap_old__"
    if os.path.exists(old):  # leftover from a prior crash after swap
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # roll back: old data returns to place
        raise
    shutil.rmtree(old)


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    seq_col: str,
    *,
    delete_col: str | None = None,
) -> None:
    """Apply a batch of keyed updates to a parquet dataset: latest record
    per key (by ``seq_col``) wins across existing data and updates — the
    KTable/changelog-compaction semantics of the topology's ``table``
    entities (plans/compiler._compact_table) applied DURABLY, i.e. the
    materialized-table leg Kafka Streams gets from RocksDB+changelog.

    ``delete_col``: optional boolean column on ``updates`` marking
    tombstones — a key whose LATEST record is a tombstone is dropped
    (Kafka null-value tombstone semantics); the column itself is not
    persisted.

    Scale notes: one max_by aggregate per upsert — a single shuffle on
    the key over (current ∪ updates), exactly the changelog-compaction
    shape. For TB-scale tables with small update batches, partition the
    dataset (write_partitioned) and restrict the read+rewrite to the
    partitions the update batch touches; a real lakehouse deployment
    would use a table format with row-level merge instead of the
    dataset swap. Not concurrent-reader safe (rename-aside swap).
    """
    tombstone = delete_col or "__tombstone"
    ups = updates if delete_col else updates.withColumn(tombstone, F.lit(False))
    if os.path.exists(path):
        current = spark.read.parquet(path).withColumn(tombstone, F.lit(False))
        merged = current.unionByName(ups)
    else:
        merged = ups
    data_cols = [c for c in merged.columns if c != tombstone]
    packed = F.max_by(F.struct(*merged.columns), F.col(seq_col))
    latest = (
        merged.groupBy(*key_cols)
        .agg(packed.alias("__latest"))
        .select("__latest.*")
        .filter(~F.col(tombstone))
        .select(*data_cols)
    )
    if not os.path.exists(path):
        latest.write.parquet(path)
        return
    tmp = path.rstrip("/") + ".__upsert_tmp__"
    latest.write.mode("overwrite").parquet(tmp)
    _swap_dataset(path, tmp)


def metadata_stats(
    spark: SparkSession,
    path: str,
    *,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    count_alias: str | None = "n_rows",
) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTER STATISTICS — zero data
    pages read (SPARK-34952 aggregate pushdown). At 100 TB this is the
    difference between a metadata operation and a full scan for the
    "how big is this table / what's the key range" queries every
    pipeline runs constantly.

    Pushdown requires the v2 parquet source and kicks in only for
    filterless, group-less count/min/max over top-level columns; the two
    confs are applied for THIS read and restored. The PHYSICAL plan is
    forced inside the conf scope (V2ScanRelationPushDown is an optimizer
    rule that reads the conf at optimization time, not at read time), so
    the returned frame keeps its pushed plan — but any further transform
    re-plans under the restored confs and loses the pushdown; consume
    this frame as-is. If a column's type lacks footer stats support the
    plan silently degrades to a normal scan — same answer, full cost —
    so the plan-audit test pins PushedAggregation on the plan."""
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.sources.useV1SourceList", "spark.sql.parquet.aggregatePushdown")
    }
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        aggs = []
        if count_alias:
            aggs.append(F.count(F.lit(1)).alias(count_alias))
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        df = spark.read.parquet(path).agg(*aggs)
        df._jdf.queryExecution().executedPlan()  # plan under scoped confs
        return df
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
