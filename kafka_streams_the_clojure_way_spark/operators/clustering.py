"""Deterministic k-means over embedding columns (SURVEY §7 M5 extension;
the trained coarse quantizer operators/similarity.py's IVF path points at:
"production would k-means — the plan shape is identical").

Everything here is engineered to be DETERMINISTIC and ENGINE-PORTABLE so
the iterative algorithm carries a full DuckDB value oracle — rare for
clustering, and exactly the property a reproducible data pipeline wants:

- init: the k lowest-id vectors, cluster ids 0..k-1 by id order;
- assignment: per-row squared-L2 via the same sequential fold both
  engines compute, ties broken by cluster id — no cross-row float
  accumulation, so per-row determinism is enough;
- update: per-dimension means via INTEGER unit sums
  (``floor(x * 1e9 + 0.5)`` longs — the fixed_point_sums trick), so the
  only cross-row float hazard (summation order) is eliminated; the mean
  is the same two double divisions in both engines.

Scale shape per iteration: one broadcast of k centroids, one argmin over
a k-way projected cross (k rows per vector, k small), one explode to
(cluster, dim) partial sums — all map-side-combining shuffles; centroids
(k x dim doubles) collect to the driver between rounds, like the
connected-components label collect. Iterations are a fixed count, not
convergence-tested, to keep the oracle a finite unrolled SQL chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: integer-unit scale for centroid mean sums (9 dp — embeddings are
#: unit-scale floats, so units stay far inside long range)
MEAN_UNITS = 1_000_000_000


def _sq_dist(vec, cent) -> "F.Column":
    """Sequential-fold squared L2 — same fold the SQL twin computes."""
    return F.aggregate(
        F.zip_with(vec, cent, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_dist_sql(vec: str, cent: str) -> str:
    zipped = f"list_zip({vec}, {cent})"
    diffs = f"list_transform({zipped}, p -> (p[1] - p[2]) * (p[1] - p[2]))"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}),"
        " (acc, v) -> acc + v)"
    )


def attach_model(df: DataFrame, name: str, value, schema: str) -> DataFrame:
    """Attach a driver-side model value (a centroid list, a codebook) to
    every row of ``df`` as column ``name`` via a 1-row broadcast cross.

    Why not literals: a k x dim model inlined as per-element ``F.lit``
    trees costs thousands of py4j round trips per plan construction
    (measured 6-12 s of driver time for a 118 x 64 centroid table), and
    ``F.expr`` text of the same size still pays >1 s of SQL parsing.
    One createDataFrame + BroadcastNestedLoopJoin of a single row ships
    the same doubles bit-exactly (pickle floats ARE doubles) with O(1)
    plan-construction cost, and the broadcast is model-sized by
    definition. The cross is a 1-row scalar broadcast — the same shape
    as every other scalar cross in the engine."""
    one = df.sparkSession.createDataFrame([(value,)], f"{name} {schema}")
    return df.crossJoin(F.broadcast(one))


def seq_dot(a, b=None) -> float:
    """Driver-side replica of ``similarity.dot``'s sequential fold —
    the same IEEE-double operations in the same order, so a norm
    precomputed here over collected values is bit-identical to the JVM
    expression it replaces."""
    b = a if b is None else b
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _vec_frame(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from kafka_streams_the_clojure_way_spark.sources.files import (
        with_min_parallelism,
    )

    return with_min_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )


def _assign(vecs: DataFrame, cents: list[list[float]], id_col: str) -> DataFrame:
    """One assignment pass against the driver-resident centroid list:
    per-vector argmin of the portable squared-L2 fold, ties to the lower
    cluster id.

    The centroids are a k-row driver-side constant, so the argmin is a
    ROW-LOCAL expression — ``array_min`` over a literal (distance,
    cluster) struct array — instead of the former k-way broadcast join +
    top-1 window (r11, guide §2.4: that shape paid an Exchange + sort
    per assignment pass for an argmin over k=8 candidates). Results are
    identical: the same sequential-fold distance per candidate, and
    array_min's lexicographic struct ordering IS the (distance ASC,
    cluster ASC) tie-break the window used."""
    # transform over ONE attached model array keeps the expression tree
    # and the plan-construction cost O(1) in k (per-candidate inlined
    # literal trees measured slower on both counts — see attach_model).
    cand = F.transform(
        F.col("__cents"),
        lambda e: F.struct(
            _sq_dist(F.col("__v"), e["v"]).alias("d"), e["c"].alias("c")
        ),
    )
    return attach_model(
        vecs,
        "__cents",
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "array<struct<c:int,v:array<double>>>",
    ).select(id_col, "__v", F.array_min(cand)["c"].alias("cluster"))


def kmeans_train(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Run ``n_iter`` deterministic Lloyd iterations and return the
    trained centroid list — THE model. ``kmeans_assignments(corpus,
    model=...)`` against this list reproduces inline training bit for
    bit, which is what lets SemDeDup / cluster-balanced sampling / IVF
    share one trained quantizer instead of each re-running Lloyd."""
    # cached for the loop: every Lloyd round re-reads this frame (assign +
    # mean agg), and without the cache each round pays the parquet scan +
    # array cast again. The frame is id + vector only — the working-set a
    # k-means job holds in memory by design at any scale.
    vecs = _vec_frame(corpus, id_col, vec_col).cache()
    try:
        dim = len(vecs.select("__v").first()["__v"])

        # init: k lowest-id vectors, cluster ids assigned in id order
        centroids = [row["__v"] for row in vecs.orderBy(id_col).limit(k).collect()]

        for _ in range(n_iter):
            assigned = _assign(vecs, centroids, id_col)
            units = F.floor(F.col("__x") * MEAN_UNITS + F.lit(0.5)).cast("long")
            sums = (
                assigned.select("cluster", F.posexplode("__v").alias("__dim", "__x"))
                .withColumn("__u", units)
                .groupBy("cluster", "__dim")
                .agg(F.sum("__u").alias("__su"), F.count(F.lit(1)).alias("__n"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for row in sums:
                by_cluster.setdefault(row["cluster"], {})[row["__dim"]] = (
                    float(row["__su"]) / MEAN_UNITS / row["__n"]
                )
            # empty clusters keep their previous centroid (deterministic)
            centroids = [
                [by_cluster[ci][d] for d in range(dim)] if ci in by_cluster else centroids[ci]
                for ci in range(k)
            ]
    finally:
        vecs.unpersist()
    return centroids


def _model_to_list(model) -> list[list[float]]:
    """Accept a trained model as a centroid list or a ``(cent_id,
    cent_vec)`` DataFrame (kmeans_fit's persisted artifact)."""
    if isinstance(model, DataFrame):
        rows = model.orderBy("cent_id").collect()
        return [list(r["cent_vec"]) for r in rows]
    return [list(c) for c in model]


def kmeans_assignments(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
) -> DataFrame:
    """(id, cluster) after ``n_iter`` deterministic Lloyd iterations —
    or, with ``model=`` (a centroid list or kmeans_fit's ``(cent_id,
    cent_vec)`` frame), ONE assignment pass against the pre-trained
    quantizer, skipping training entirely. The two paths are bit-equal
    when the model came from ``kmeans_train``/``kmeans_fit`` with the
    same (k, n_iter), so consumers can swap in the shared model without
    touching their oracles."""
    if model is None:
        centroids = kmeans_train(
            corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = _model_to_list(model)
    vecs = _vec_frame(corpus, id_col, vec_col)
    return _assign(vecs, centroids, id_col).select(id_col, "cluster")


def kmeans_sql(
    table: str = "embeddings",
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: the same iterations unrolled as a CTE chain, built
    from the same constants so the two engines cannot drift."""
    vd = f"CAST({vec_col} AS DOUBLE[])"
    parts = [
        f"""v AS (SELECT {id_col}, {vd} AS v FROM {table}),
    c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY {id_col}) - 1 AS cluster, v AS c
        FROM (SELECT {id_col}, v FROM v ORDER BY {id_col} LIMIT {k})
    )"""
    ]
    for it in range(n_iter):
        prev = f"c{it}"
        parts.append(
            f"""a{it} AS (
        SELECT {id_col}, v, cluster FROM (
            SELECT v.{id_col}, v.v, {prev}.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.{id_col}
                       ORDER BY {_sq_dist_sql('v.v', f'{prev}.c')}, {prev}.cluster
                   ) AS r
            FROM v CROSS JOIN {prev}
        ) WHERE r = 1
    )"""
        )
        parts.append(
            f"""s{it} AS (
        SELECT cluster, CAST(i AS INTEGER) AS dim,
               CAST(SUM(CAST(floor(v[CAST(i AS INTEGER)] * {MEAN_UNITS} + 0.5)
                             AS BIGINT)) AS BIGINT) AS su,
               COUNT(*) AS n
        FROM a{it}, unnest(range(1, len(v) + 1)) AS t(i)
        GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""m{it} AS (
        SELECT cluster,
               list(CAST(su AS DOUBLE) / {MEAN_UNITS} / n ORDER BY dim) AS c
        FROM s{it} GROUP BY cluster
    )"""
        )
        # empty clusters fall back to the previous centroid
        parts.append(
            f"""c{it + 1} AS (
        SELECT p.cluster, COALESCE(m.c, p.c) AS c
        FROM {prev} p LEFT JOIN m{it} m ON m.cluster = p.cluster
    )"""
        )
    final = f"c{n_iter}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT {id_col}, cluster FROM (
        SELECT v.{id_col}, {final}.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY v.{id_col}
                   ORDER BY {_sq_dist_sql('v.v', f'{final}.c')}, {final}.cluster
               ) AS r
        FROM v CROSS JOIN {final}
    ) WHERE r = 1"""
    )


def kmeans_fit(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
) -> DataFrame:
    """Train and return the centroid table ``(cent_id, cent_vec)`` —
    THE shared model artifact: exactly the post-``n_iter`` centroids
    ``kmeans_assignments`` assigns against, so SemDeDup, cluster-
    balanced sampling, and IVF-style routing all consume the same
    trained quantizer and assignment against it is bit-equal to inline
    training (train once, serve everywhere — the same build/serve split
    as build_ivf_index / build_minhash_index). With ``path``, centroids
    are persisted as parquet and read back (train once, reuse across
    sessions)."""
    centroids = kmeans_train(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    cents = corpus.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cent_id int, cent_vec array<double>",
    )
    if path:
        cents.write.mode("overwrite").parquet(path)
        from kafka_streams_the_clojure_way_spark.sources.files import (
            read_static_schema,
        )

        return read_static_schema(corpus.sparkSession, path)
    return cents


SEMDEDUP_THRESHOLD = 0.45


def semdedup_flags(
    corpus: DataFrame,
    *,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
    cache_registry: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the LAION /
    DataComp-style semantic-dedup pass): cluster the embedding space
    with k-means, then WITHIN each cluster drop every vector that has
    cosine >= threshold to a lower-id vector of the same cluster — the
    paper's "keep one representative per semantic duplicate group,
    compare only inside a cluster" recipe, with the deterministic
    lowest-id keeper rule.

    Output: (id, cluster, is_kept) for every input vector.

    Scale shape: clustering is the whole point — the pair comparison is
    confined to clusters, so the quadratic term is sum(n_c^2) =~
    N * E[cluster size], NOT N^2. Production sizes k like sqrt(N) (the
    paper uses 50k clusters for LAION) so cluster size — and with it
    the per-cluster pair fanout — stays bounded as the corpus grows; k
    here is a parameter with an oracle-scale default. The pair join is
    a cluster-keyed equi-join (never a cross join), and the keep rule
    is a per-pair local predicate + anti-join — no iteration, no
    connected components (the graph version exists separately as
    dedup_cluster_assignments for when transitive grouping is wanted).

    Determinism: assignments come from the deterministic Lloyd
    iterations above (bit-exact across engines); cosines use the same
    sequential fold as every similarity operator, so the threshold
    filter selects identical pairs in Spark and the oracle.

    ``model=`` (a kmeans_fit centroid frame/list) skips the inline Lloyd
    chain — in a pipeline that also cluster-samples or routes an IVF
    index, train ONCE and pass the model here; assignments (and hence
    flags) are bit-identical to inline training.

    ``cache_registry``: the assignment and (id, cluster, vec) frames are
    cached because multiple branches consume them; by default they stay
    cached for the process lifetime (fine for one-shot queries, a leak
    for long-running callers). Pass a list and the cached frames are
    appended to it instead — unpersist after materializing results
    (same lifecycle contract as ``minhash_index_probe``)."""
    from kafka_streams_the_clojure_way_spark.operators.similarity import (
        cosine_prenorm,
        dot,
        norm_col,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import (
        with_min_parallelism,
    )

    # cached: the assignment chain (argmin window over k-way scored rows)
    # feeds BOTH pair-join branches and the final flag select — without
    # the cache Catalyst recomputes it three times. (id, cluster) +
    # (id, vec) are the k-means working set, held in memory by design.
    assigned = kmeans_assignments(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, model=model
    ).cache()
    vecs = with_min_parallelism(corpus).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        norm_col(F.col(vec_col).cast("array<double>")).alias("__n"),
    )
    av = assigned.join(vecs, id_col).cache()
    if cache_registry is not None:
        cache_registry.extend([assigned, av])
    a = av.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = av.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    # every vector with a sufficiently-similar LOWER-id cluster-mate dies;
    # one dot fold per in-cluster pair — norms are per-row in the cached
    # av frame (bit-equal to cosine(__va, __vb): similarity.cosine_prenorm)
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("__idb") < F.col("__ida"))
        .filter(
            cosine_prenorm(
                dot(F.col("__va"), F.col("__vb")),
                F.col("__na"),
                F.col("__nb"),
            )
            >= threshold
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dead", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("__dead"), F.lit(True)).alias("is_kept"),
        )
    )


def semdedup_sql(
    table: str = "embeddings",
    *,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semdedup_flags` — the kmeans CTE chain plus
    a within-cluster lower-id EXISTS."""
    from kafka_streams_the_clojure_way_spark.operators.similarity import cosine_sql

    assign = kmeans_sql(
        table, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    cos = cosine_sql("va.emb", "vb.emb")
    return f"""
    WITH asg AS ({assign}),
    vv AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS emb FROM {table}),
    av AS (SELECT asg.{id_col}, asg.cluster, vv.emb
           FROM asg JOIN vv USING ({id_col}))
    SELECT va.{id_col}, va.cluster,
           NOT EXISTS (
               SELECT 1 FROM av vb
               WHERE vb.cluster = va.cluster
                 AND vb.{id_col} < va.{id_col}
                 AND {cos} >= {threshold}
           ) AS is_kept
    FROM av va
    """
