"""Probe construction, fast tier: what building a probe's plan costs on
the driver before anything executes.

- A standalone minhash or hash probe runs exactly one Spark job of one
  stage while it is constructed: its routing collect (warm index meta
  and schema caches, as in a serve loop).
- ``routing_keys`` returns the key set ``.distinct()`` returns, so a
  probe's PartitionFilters IN-list is unchanged.
- The hot expression kernels are built once per process: a second call
  returns the same Column, and a probe built from it plans exactly like
  one built from a fresh kernel.
- ``with_min_parallelism`` decides from the plan alone: no job on an
  anti-join input, and a single-split scan is still repartitioned.
- ``get_spark`` sessions carry PySpark's per-call call-site capture off.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.functions import portable as P
from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.sources.files import (
    load_table,
    with_min_parallelism,
)

SF = "/root/testdata/sf0.001"


def _jobs_in_group(spark, group: str, fn):
    """Run fn under a job group and return (its result, how many Spark
    jobs it submitted) — the eager-construction-cost meter."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup("", "")
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _stages(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(
        len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)
    )


def _docs(spark, n: int = 40):
    return (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n)
        .cache()
    )


def _batch(spark, docs):
    """Re-crawls of every other doc under new ids, as a local relation
    split at least defaultParallelism ways (so the probe's parallelism
    guard adds no shuffle of its own)."""
    rows = [(r.doc_id + 1_000_000, r.text) for r in docs.collect()][::2]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    docs = _docs(spark)
    root = tmp_path_factory.mktemp("probe_construction")
    paths = {"minhash": str(root / "minhash"), "hash": str(root / "hash")}
    D.build_minhash_index(docs, paths["minhash"])
    D.build_hash_index(docs, paths["hash"])
    batch = _batch(spark, docs)
    # warm the meta, CURRENT and static-schema caches a serve loop keeps
    D.minhash_index_probe(spark, paths["minhash"], batch).collect()
    D.hash_index_probe(spark, paths["hash"], batch).collect()
    yield docs, paths
    docs.unpersist()


@pytest.mark.parametrize(
    "family", ["minhash", "hash"]
)
def test_standalone_probe_construction_is_one_job_one_stage(spark, indexes, family):
    docs, paths = indexes
    probe = {"minhash": D.minhash_index_probe, "hash": D.hash_index_probe}[family]
    batch = _batch(spark, docs)
    registry: list = []
    kwargs = {"cache_registry": registry} if family == "minhash" else {}
    group = f"probe-construction-{family}"
    out, n_jobs = _jobs_in_group(
        spark, group, lambda: probe(spark, paths[family], batch, **kwargs)
    )
    try:
        assert n_jobs == 1, f"{family} probe construction ran {n_jobs} jobs"
        assert _stages(spark, group) == 1
        assert out.count() > 0  # the re-crawls find their originals
    finally:
        for frame in registry:
            frame.unpersist()


def _partition_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [p for p in re.findall(r"PartitionFilters: \[([^\]]*)", plan) if p.strip()]


def test_routing_keys_match_distinct_and_keep_the_in_list(spark, indexes):
    docs, paths = indexes
    batch = _batch(spark, docs)
    hashed = D._hashed(batch, "doc_id", "text", D.HASH_INDEX_BUCKETS)
    distinct = sorted(r.bucket for r in hashed.select("bucket").distinct().collect())
    assert D.routing_keys(hashed, "bucket") == distinct
    # a tagged union: one sorted key list per tag, NULL keys dropped
    tagged = hashed.select(F.col("bucket").alias("key"), F.lit("h").alias("tag")).union(
        spark.createDataFrame([(None, "h"), (7, "z"), (7, "z")], "key long, tag string")
    )
    assert D.routing_keys(tagged, "key", "tag") == {"h": distinct, "z": [7]}

    # each probe's IN-list is the one the .distinct() keys give
    hash_probe = D.hash_index_probe(spark, paths["hash"], batch)
    assert _partition_filters(hash_probe)
    assert _in_lists(hash_probe, "bucket") == [distinct]

    meta = D._index_meta(spark, paths["minhash"])
    nb = meta["n_buckets"]
    sigs = D.minhash_signatures(batch)
    bands = D._minhash_bands(sigs, "doc_id", meta["bands"], meta["n_hashes"] // meta["bands"], nb)
    packed = sorted(
        r.band * nb + r.bucket for r in bands.select("band", "bucket").distinct().collect()
    )
    probe = D.minhash_index_probe(spark, paths["minhash"], batch)
    assert _partition_filters(probe)
    assert _in_lists(probe, r"bucket\)") == [packed]


def _in_lists(df, key_sql: str) -> list[list[int]]:
    """The int IN-lists on ``key_sql`` in ``df``'s Filter conditions
    (the plan string truncates a long IN-list; a condition's SQL does
    not)."""
    found = [
        re.search(key_sql + r" IN \(([^)]*)\)", cond)
        for cond in _filter_sqls(df._jdf.queryExecution().analyzed())
    ]
    return [[int(v) for v in m.group(1).split(",")] for m in found if m]


def _filter_sqls(plan) -> list[str]:
    """The SQL of every Filter condition in a JVM logical plan."""
    out = [plan.condition().sql()] if plan.nodeName() == "Filter" else []
    kids = plan.children()
    for i in range(kids.size()):
        out += _filter_sqls(kids.apply(i))
    return out


def _normalised(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#N", plan)
    return re.sub(r"\b([xyz])_\d+\b", r"\1_N", plan)  # lambda variable names


def test_kernels_are_built_once_and_plan_like_fresh_ones(spark, indexes, monkeypatch):
    docs, paths = indexes
    assert P.kernel(D.shingle_hashes, "text") is P.kernel(D.shingle_hashes, "text")
    seeds = D.minhash_seeds(D.N_MINHASH)
    assert P.kernel(D.minhash_from_hashes, "sh", seeds) is P.kernel(
        D.minhash_from_hashes, "sh", seeds
    )
    assert P.kernel(D.content_hash, "text") is not P.kernel(D.content_hash, "body")

    batch = _batch(spark, docs)
    registry: list = []
    memo = D.minhash_index_probe(spark, paths["minhash"], batch, cache_registry=registry)
    memo_hash = D.hash_index_probe(spark, paths["hash"], batch)
    # fresh kernels: the builder runs on every call
    monkeypatch.setattr(D, "kernel", lambda build, col, *ps: build(F.col(col), *ps))
    fresh = D.minhash_index_probe(spark, paths["minhash"], batch, cache_registry=registry)
    fresh_hash = D.hash_index_probe(spark, paths["hash"], batch)
    try:
        assert _normalised(memo) == _normalised(fresh)
        assert _normalised(memo_hash) == _normalised(fresh_hash)
        assert sorted(memo.collect()) == sorted(fresh.collect())
    finally:
        for frame in registry:
            frame.unpersist()


def test_with_min_parallelism_runs_nothing(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_split")
    spark.range(5000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t "), F.col("id").cast("string")).alias("text")
    ).coalesce(1).write.parquet(path)
    ids = str(tmp_path / "ids")
    spark.range(0, 5000, 2).select(F.col("id").alias("doc_id")).write.parquet(ids)
    scan = spark.read.parquet(path)
    anti = scan.join(spark.read.parquet(ids), "doc_id", "left_anti")

    out, n_jobs = _jobs_in_group(spark, "wmp-anti", lambda: with_min_parallelism(anti))
    assert n_jobs == 0
    assert out.rdd.getNumPartitions() >= target
    # a shuffle above the broadcast join: its width is read, not built
    agg = anti.groupBy((F.col("doc_id") % 7).alias("k")).count()
    _, n_jobs = _jobs_in_group(spark, "wmp-agg", lambda: with_min_parallelism(agg))
    assert n_jobs == 0

    out, n_jobs = _jobs_in_group(spark, "wmp-scan", lambda: with_min_parallelism(scan))
    assert n_jobs == 0
    assert out is not scan and out.rdd.getNumPartitions() == target
    # an input already split enough comes back as it is
    wide = scan.repartition(target)
    assert with_min_parallelism(wide) is wide


def test_engine_sessions_turn_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
