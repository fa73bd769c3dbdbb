"""Deterministic k-means: repartition-invariance (the property the
bit-exact oracle rests on), non-trivial partitioning, and inertia
improvement over the init assignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.clustering import (
    kmeans_assignments,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def test_kmeans_deterministic_under_repartition(spark):
    emb = load_table(spark, SF, "embeddings")
    a = {r.vec_id: r.cluster for r in kmeans_assignments(emb, k=4, n_iter=2).collect()}
    b = {
        r.vec_id: r.cluster
        for r in kmeans_assignments(emb.repartition(7), k=4, n_iter=2).collect()
    }
    assert a == b
    assert len(a) == emb.count()


def test_kmeans_partitions_data_and_reduces_inertia(spark):
    from kafka_streams_the_clojure_way_spark.operators.clustering import _sq_dist

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def inertia(assign_df, cents_df):
        joined = (
            assign_df.join(vecs, "vec_id")
            .join(cents_df, "cluster")
            .select(_sq_dist(F.col("v"), F.col("c")).alias("d"))
        )
        return joined.agg(F.sum("d")).collect()[0][0]

    final = kmeans_assignments(emb, k=4, n_iter=3)
    sizes = [r["count"] for r in final.groupBy("cluster").count().collect()]
    assert len(sizes) >= 2 and max(sizes) < emb.count()  # not one blob

    # inertia of the trained assignment must beat assigning everything
    # to the single best init centroid pool (k=1 degenerate baseline)
    one = kmeans_assignments(emb, k=1, n_iter=1)
    seed0 = vecs.orderBy("vec_id").limit(1).select(F.col("v").alias("c"))
    trained_cents = (
        final.join(vecs, "vec_id")
        .select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
            ).alias("c")
        )
    )
    i_trained = inertia(final, trained_cents)
    i_one = inertia(one.withColumn("cluster", F.lit(0)), seed0.withColumn("cluster", F.lit(0)))
    assert i_trained < i_one


def test_kmeans_fit_persists_centroid_table(spark, tmp_path):
    from kafka_streams_the_clojure_way_spark.operators.clustering import kmeans_fit

    emb = load_table(spark, SF, "embeddings")
    out = str(tmp_path / "centroids")
    cents = kmeans_fit(emb, k=4, n_iter=2, path=out).collect()
    assert len(cents) == 4
    dim = len(cents[0].cent_vec)
    assert all(len(r.cent_vec) == dim for r in cents)
    reread = spark.read.parquet(out)
    assert reread.count() == 4 and set(reread.columns) == {"cent_id", "cent_vec"}


def test_kmeans_train_and_assign_leave_no_persisted_frames(spark):
    """Training caches its vector frame for the Lloyd loop and releases
    it; the single assignment pass caches nothing."""
    from kafka_streams_the_clojure_way_spark.operators.clustering import kmeans_train

    def persistent():
        # ids, not a count: the context cleaner may release other tests'
        # frames while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # a corpus no other test caches: a cache entry left by an earlier
    # caller of the same plan would hide a new one
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i)]) for i in range(12)], "vec_id long, embedding array<float>"
    )
    before = persistent()
    cents = kmeans_train(emb, k=4, n_iter=2)
    assert persistent() <= before, "kmeans_train left its vector frame cached"
    assert kmeans_assignments(emb, k=4, model=cents).count() == emb.count()
    assert persistent() <= before, "kmeans_assignments cached a frame"


def test_semdedup_keeps_lowest_id_per_near_pair(spark):
    """Within a cluster, every near-dup pair keeps the LOWER id; vectors
    with no sufficiently-similar lower-id cluster-mate survive."""
    import pyspark.sql.functions as F

    from kafka_streams_the_clojure_way_spark.operators.clustering import (
        semdedup_flags,
    )
    from kafka_streams_the_clojure_way_spark.operators.similarity import cosine

    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = semdedup_flags(emb)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count()  # every vector flagged exactly once
    dropped = [i for i, r in rows.items() if not r.is_kept]
    assert dropped, "fixture should produce at least one semantic dup"
    # every dropped vector has a kept-or-dropped LOWER-id mate in its
    # cluster above threshold (verified against a direct pair recompute)
    av = out.join(emb, "vec_id").select(
        "vec_id", "cluster", F.col("embedding").cast("array<double>").alias("v")
    )
    a = av.select("cluster", F.col("vec_id").alias("ida"), F.col("v").alias("va"))
    b = av.select("cluster", F.col("vec_id").alias("idb"), F.col("v").alias("vb"))
    close_lower = {
        r.ida
        for r in a.join(b, "cluster")
        .filter(F.col("idb") < F.col("ida"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.45)
        .select("ida")
        .distinct()
        .collect()
    }
    assert set(dropped) == close_lower


def test_model_reuse_is_bit_equal_to_inline_training(spark, tmp_path):
    """The shared-model contract: kmeans_fit persists exactly the
    post-n_iter centroids, so assignment (and SemDeDup flags) against
    the persisted model must equal inline training row for row — this
    is what lets the registered queries serve from one trained model
    without touching their unrolled-CTE oracles."""
    from kafka_streams_the_clojure_way_spark.operators.clustering import (
        kmeans_fit,
        semdedup_flags,
    )

    emb = load_table(spark, SF, "embeddings")
    model = kmeans_fit(emb, k=4, n_iter=2, path=str(tmp_path / "m"))

    inline = sorted(
        (r.vec_id, r.cluster)
        for r in kmeans_assignments(emb, k=4, n_iter=2).collect()
    )
    served = sorted(
        (r.vec_id, r.cluster)
        for r in kmeans_assignments(emb, model=model).collect()
    )
    assert served == inline

    flags_inline = sorted(
        tuple(r) for r in semdedup_flags(emb, k=4, n_iter=2).collect()
    )
    flags_served = sorted(
        tuple(r) for r in semdedup_flags(emb, model=model).collect()
    )
    assert flags_served == flags_inline
