"""Per-process model caches must be keyed by EVERY training parameter,
not just sf_dir — a hyperparameter edit that silently serves a model
trained under the old parameters is the worst kind of staleness (round-4
verdict watch item 3). Uses sf0.001 so the retrain cost is trivial."""

from __future__ import annotations

from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.queries import llm_pipeline as L

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
