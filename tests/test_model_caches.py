"""Per-process model caches must be keyed by EVERY training parameter,
not just sf_dir — a hyperparameter edit that silently serves a model
trained under the old parameters is the worst kind of staleness (round-4
verdict watch item 3). Uses sf0.001 so the retrain cost is trivial.

The artifact core behind every cache (``artifacts.artifact``) is pinned
here too: a rewritten source table rebuilds, ``sf_dir=None`` caches
nothing, the exit sweep removes every scratch dir, and the two keyset
helpers share one build."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

from kafka_streams_the_clojure_way_spark import artifacts as A
from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.queries import ingestion as QI
from kafka_streams_the_clojure_way_spark.queries import llm_pipeline as L
from kafka_streams_the_clojure_way_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def test_minhash_index_cache_retrains_on_param_change(spark):
    a = L._minhash_index_path(spark, SF)
    b = L._minhash_index_path(spark, SF)
    assert a == b, "same params must reuse the built index"
    c = L._minhash_index_path(spark, SF, n_hashes=32, bands=8)
    assert c != a, "changed banding params must build a NEW index"
    # and the new index was really built with the new params
    meta = spark.read.parquet(f"{c}/meta").collect()[0]
    assert (meta["n_hashes"], meta["bands"]) == (32, 8)


def test_ivf_index_cache_retrains_on_param_change(spark):
    a = L._ivf_index_path(spark, SF)
    assert L._ivf_index_path(spark, SF) == a
    c = L._ivf_index_path(spark, SF, n_cells=4)
    assert c != a
    assert spark.read.parquet(f"{index_dataset_root(c)}/centroids").count() <= 4


def test_kmeans_model_cache_retrains_on_param_change(spark):
    a = L._kmeans_model(spark, SF)
    assert L._kmeans_model(spark, SF) is a
    b = L._kmeans_model(spark, SF, k=4)
    assert b is not a
    assert b.count() == 4 and a.count() == 8


def test_rewritten_source_table_rebuilds_and_relists(spark, tmp_path):
    """A rewrite of the sf dir's (single-file) documents table changes
    its change token: the index helper builds a new index, and
    ``load_table`` lists the new file instead of serving the old
    listing."""
    sf = tmp_path / "sf"
    sf.mkdir()
    doc = sf / "documents.parquet"
    shutil.copy(os.path.join(SF, "documents.parquet"), doc)
    a = L._hash_index_path(spark, str(sf))
    assert L._hash_index_path(spark, str(sf)) == a
    n = load_table(spark, str(sf), "documents").count()

    pq.write_table(pq.read_table(doc).slice(0, n // 2), doc)
    b = L._hash_index_path(spark, str(sf))
    assert b != a, "a rewritten source must not serve the stale index"
    assert load_table(spark, str(sf), "documents").count() == n // 2
    hashes = spark.read.parquet(f"{index_dataset_root(b)}/hashes")
    assert hashes.count() == n // 2


def test_sf_dir_none_builds_every_call_and_caches_nothing(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "the cat sat down"), (2, "a dog ran off")], "doc_id long, text string"
    )
    monkeypatch.setattr(L, "load_table", lambda *_: docs)
    before = dict(A._ARTIFACTS)
    a = L._hash_index_path(spark, None)
    b = L._hash_index_path(spark, None)
    assert a != b, "sf_dir=None must build on every call"
    assert A._ARTIFACTS == before


def test_exit_sweep_removes_every_scratch_dir(tmp_path):
    """A plain interpreter (no Spark session) registers an artifact dir
    and a spool-style scratch dir, writes into both and exits normally:
    the one exit sweep removes them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from kafka_streams_the_clojure_way_spark import artifacts as A\n"
        "a = A.artifact(None, None, 'sweep_probe', lambda d: d)\n"
        "b = A.scratch_dir('sweep_spool_')\n"
        "for d in (a, b):\n"
        "    open(d + '/part-0.parquet', 'w').write('x')\n"
        "print(a)\n"
        "print(b)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    dirs = out.stdout.split()
    assert len(dirs) == 2
    assert all(d.startswith(str(tmp_path)) for d in dirs)
    assert not any(os.path.exists(d) for d in dirs)
    assert os.listdir(tmp_path) == []


def test_keyset_helpers_share_one_build(spark):
    assert QI._ingest_keyset_path(spark, SF) == L._bench_keyset_path(spark, SF)


def test_ingestion_queries_cache_no_frame_twice(spark, monkeypatch):
    """The pipeline_ingestion_* queries after dedup_incremental_indexed,
    whose probe keeps the arriving slice's minhash signatures cached for
    the process: the six-gate compile's router signs the same slice,
    and must read that entry instead of caching the plan a second time
    (the CacheManager's "cached already" warning) — and must not release
    the probe's cached frame."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    def persisted():
        # ids, not a count: the context cleaner may release other tests'
        # frames while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # one fresh compile in a session holding no earlier compile's frames
    spark.catalog.clearCache()
    monkeypatch.setattr(
        A, "_ARTIFACTS", {k: v for k, v in A._ARTIFACTS.items() if k[2] != "ingest_gates"}
    )
    L._minhash_index_path(spark, SF)  # built before the RDDs are counted
    before = persisted()
    QUERIES["dedup_incremental_indexed"](spark, SF).collect()
    held = persisted() - before  # the probe's signature cache
    assert held, "the probe cached nothing"

    manager = spark._jsparkSession.sharedState().cacheManager()
    twice = []
    cache = DataFrame.cache

    def checked(df):
        if manager.lookupCachedData(df._jdf).isDefined():
            twice.append(df._jdf.queryExecution().analyzed().toString())
        return cache(df)

    monkeypatch.setattr(DataFrame, "cache", checked)
    for name in sorted(QUERIES):
        if name.startswith("pipeline_ingestion_"):
            QUERIES[name](spark, SF).collect()
    assert not twice, "cached twice:\n" + "\n".join(twice)
    assert held <= persisted(), "released the probe's cached frame"
