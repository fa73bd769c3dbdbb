"""Similarity search over embedding columns (SURVEY.md §7 M5): brute-force
cosine top-k as the correctness baseline, and an LSH-bucketed (random
hyperplane) variant as the scale path.

Scale design:

- **Brute force** is O(|Q| x |N|): correct, oracle-checkable, and the
  right choice when |Q| is small (a probe/eval set). The distributed
  shape matters: queries broadcast (small side), corpus streams — no
  corpus shuffle at all, and the top-k per query uses the same
  WindowGroupLimit partial top-k as relational top-k.
- **Random-hyperplane LSH** (Charikar'02): sign-pattern of dot products
  against fixed pseudo-random planes buckets similar vectors together;
  candidates come from a bucket equi-join. Planes derive from a
  deterministic LCG on (plane, dim) — portable constants, so the bucket
  assignment (and thus the result) is reproducible and oracle-checkable.
- Dot products run as JVM higher-order functions (zip_with + aggregate)
  — sequential fold, bit-identical to DuckDB's list_dot_product order,
  no Python in the path. For raw throughput a Pandas-UDF/numpy variant
  is provided (``cosine_topk_pandas``) — same results up to FP
  reassociation, used where exact oracle parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    IndexDataset,
    _index_meta,
    build_index,
    compact_index,
    drop_tombstoned,
    index_dataset_root,
    index_delete,
    index_upsert,
    serve_index_stream,
)
from kafka_streams_the_clojure_way_spark.sources.files import (
    read_static_schema,
    with_min_parallelism,
)

#: Hard cap on the driver-collected query side of cosine_topk_pandas.
#: 1e5 rows x (say) 768 float64 dims ≈ 600 MB broadcast per task — already
#: at the edge; anything larger must use the distributed paths.
MAX_PANDAS_QUERY_ROWS = 100_000

#: brute_force_topk is a VERIFIER tier: cost is |queries| x |corpus|, so
#: a query set that is a FRACTION of the corpus (e.g. "every 50th id")
#: silently turns it quadratic at production scale. The probe set must be
#: bounded-absolute; above this the scalable tiers (LSH / IVF / PQ) are
#: the right tool and the guard fails loudly instead.
MAX_BRUTE_FORCE_QUERIES = 10_000

EMBED_DIM = 64

#: deterministic pseudo-random hyperplanes: LCG((p * DIM + d)) mapped to
#: [-0.5, 0.5). Integer arithmetic stays < 2^62 — portable to DuckDB.
LCG_A = 1_103_515_245
LCG_C = 12_345
LCG_M = 1 << 31
N_PLANES = 8


def _plane_weight(p: int, d: int) -> float:
    return ((LCG_A * (p * EMBED_DIM + d) + LCG_C) % LCG_M) / LCG_M - 0.5


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (JVM-side). Inputs are cast to
    array<double> FIRST — float32 multiplies would diverge from the
    DuckDB oracle's double arithmetic."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm_col(vec: Column) -> Column:
    """``sqrt(dot(v, v))`` — exactly one side's factor of cosine()'s
    denominator. Pair-scoring paths precompute this ONCE PER ROW before
    the candidate join and combine with :func:`cosine_prenorm`, so each
    candidate pair runs one dot fold instead of three (r11, guide §2.3
    "don't recompute per pair what is per-row"); the composed
    expression multiplies and divides the identical doubles in the
    identical order as cosine(), so results are bit-equal."""
    return F.sqrt(dot(vec, vec))


def cosine_prenorm(dot_ab: Column, na: Column, nb: Column) -> Column:
    """cosine from a pair dot and the two rows' precomputed norms —
    bit-equal to ``cosine(a, b)`` when ``na``/``nb`` are norm_col of the
    same vectors (same operation order: dot / (sqrt_a * sqrt_b))."""
    return dot_ab / (na * nb)


def _dot_sql(a: str, b: str) -> str:
    zipped = f"list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    prods = f"list_transform({zipped}, p -> p[1] * p[2])"
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {prods}), (acc, v) -> acc + v)"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` — explicit sequential fold (NOT
    list_cosine_similarity, whose internal order may differ) so the double
    arithmetic is bit-identical."""
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    assume_bounded: bool = False,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Excludes self-matches on equal ids.

    Guarded: raises if the query set exceeds MAX_BRUTE_FORCE_QUERIES —
    the cost is |queries| x |corpus|, and the broadcast side must stay
    absolutely bounded regardless of corpus size (the same contract
    cosine_topk_pandas enforces). The guard is an EAGER
    limit(cap+1).count() job at construction time: a tiny bounded scan
    that fails fast before any quadratic work is scheduled. Callers
    whose probe frame is bounded BY CONSTRUCTION (an absolute id-cap
    predicate or an explicit LIMIT — e.g. the registered queries'
    ``vec_id < cap`` probe sets) pass ``assume_bounded=True`` to skip
    the probe job and keep the builder fully lazy; the flag asserts
    the caller's own bound, it does not widen the contract."""
    if not assume_bounded:
        n_probe_rows = queries.limit(MAX_BRUTE_FORCE_QUERIES + 1).count()
        if n_probe_rows > MAX_BRUTE_FORCE_QUERIES:
            raise ValueError(
                f"brute_force_topk query set exceeds {MAX_BRUTE_FORCE_QUERIES} "
                "rows; brute force is |queries| x |corpus| — use the LSH/IVF/PQ "
                "tiers, or pass an explicitly LIMITed probe set"
            )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id),
            F.col(vec_col).alias("__qvec"),
            norm_col(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        with_min_parallelism(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            norm_col(F.col(vec_col)).alias("__cn"),
        )
        .join(q, F.col("neighbor_id") != F.col(query_id))
        # one dot fold per pair; norms are per-row (see cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__qn"),
                F.col("__cn"),
            ),
        )
    )
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "cosine"),
        keys=[query_id],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine_r"),
    )


def _planes_literal() -> Column:
    """The N_PLANES x EMBED_DIM hyperplane matrix as ONE parsed array
    literal. Text-parsed on purpose (r12, guide §1.2 step 2): building
    it element-wise costs N_PLANES x EMBED_DIM = 512 ``F.lit`` py4j
    round trips per call (~0.45 s of driver time, twice per LSH query);
    one ``F.expr`` over ``repr(double)`` text parses in ~1 ms, and
    ``repr`` -> ``Double.parseDouble`` round-trips every IEEE double
    bit-exactly (the ``D`` suffix pins the literal to DOUBLE — bare
    decimal text would parse as DECIMAL)."""
    inner = ",".join(
        "array(" + ",".join(repr(_plane_weight(p, d)) + "D" for d in range(EMBED_DIM)) + ")"
        for p in range(N_PLANES)
    )
    return F.expr(f"array({inner})")


def lsh_bucket(vec: Column) -> Column:
    """Random-hyperplane sign bucket (0..2^N_PLANES-1) of a vector.

    One expression over the parsed plane-matrix literal (r12): per
    plane, the same zip_with multiply + sequential fold as before, the
    sign bit attached by zipping against the ``1 << p`` bit array, and
    the bucket summed plane-ascending — the identical integer result as
    the former 8-term chained sum, at ~1/10 the plan-construction
    cost."""
    vec_d = vec.cast("array<double>")
    bits = F.expr(
        "array(" + ",".join(str(1 << p) for p in range(N_PLANES)) + ")"
    )
    signs = F.zip_with(
        _planes_literal(),
        bits,
        lambda w, bit: F.when(
            F.aggregate(
                F.zip_with(vec_d, w, lambda x, ww: x * ww),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            bit,
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(signs, F.lit(0), lambda acc, v: acc + v).cast("long")


def lsh_bucket_sql(vec: str) -> str:
    terms = []
    for p in range(N_PLANES):
        weights = ", ".join(repr(_plane_weight(p, d)) for d in range(EMBED_DIM))
        zipped = f"list_zip(CAST({vec} AS DOUBLE[]), CAST([{weights}] AS DOUBLE[]))"
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({zipped}, q -> q[1] * q[2])), "
            f"(acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


#: multi-probe masks: flip <=N_FLIP of the N_PLANES sign bits. A plane
#: whose projection is near zero flips sign easily for a true neighbor,
#: so probing hamming-adjacent buckets recovers most of the recall lost
#: to bucketing (Lv et al., VLDB'07 multi-probe LSH).
N_FLIP = 2


def _probe_masks() -> list[int]:
    masks = [0]
    if N_FLIP >= 1:
        masks += [1 << i for i in range(N_PLANES)]
    if N_FLIP >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(N_PLANES)
            for j in range(i + 1, N_PLANES)
        ]
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Approximate top-k via multi-probe LSH: candidates share any bucket
    within hamming distance N_FLIP of the query's bucket (the query side
    explodes x37 probes — queries are the SMALL side, so probing
    multiplies the broadcast table, never the corpus). Exact cosine
    re-ranks within candidates. Single-probe on isotropic test vectors
    measured recall@10 = 0.05 (near-singleton buckets); 2-flip probing
    lifts it ~7x for ~14% of the corpus touched per query."""
    c = with_min_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        lsh_bucket(F.col(vec_col)).alias("__bucket"),
        norm_col(F.col(vec_col)).alias("__cn"),
    )
    q0 = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col)).alias("__b0"),
        norm_col(F.col(vec_col)).alias("__qn"),
    )
    q = F.broadcast(
        q0.withColumn(
            "__bucket",
            F.explode(
                F.array(*[F.col("__b0").bitwiseXOR(F.lit(m)) for m in _probe_masks()])
            ),
        ).drop("__b0")
    )
    scored = (
        c.join(q, "__bucket")
        .filter(F.col("neighbor_id") != F.col(query_id))
        # per-pair: one dot fold; norms were computed per ROW above
        # (bit-equal to cosine(__qvec, __cvec) — see cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__qn"),
                F.col("__cn"),
            ),
        )
    )
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "cosine"),
        keys=[query_id],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine_r"),
    )


IVF_CENTROID_MOD = 17
#: the cell count is a MODEL hyperparameter, not a function of corpus
#: size: centroids are the FIRST IVF_N_CELLS qualifying ids by rank
#: (id % mod == 1 ORDER BY id LIMIT n), so the count is constant for any
#: id domain — dense-from-zero or not. Without the cap a 10x corpus
#: means 10x cells and the routing pass (corpus x centroids) goes
#: quadratic — measured 7.7x wall at 10x rows; with it routing is
#: O(N x n_cells) and probing n_probe cells scans a constant FRACTION
#: of the corpus. (Production retrains k-means centroids as N grows —
#: kmeans_fit — but the count still grows like sqrt(N), never N.)
#: 118 = the qualifying ids below 2000 in the test corpus, so capped
#: and uncapped results coincide at every driver scale factor. This is
#: only the DEFAULT — every IVF entry point (ivf_topk, build_ivf_index,
#: ivfpq_topk and their SQL twins) takes ``n_cells=`` so other corpora
#: tune the cell count (rule of thumb: ~sqrt(N)) instead of silently
#: inheriting a fixture-tuned value.
IVF_N_CELLS = 118
IVF_NPROBE = 3


def ivf_centroid_rows(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = IVF_CENTROID_MOD,
    n_cells: int = IVF_N_CELLS,
) -> list:
    """Collect the deterministic IVF coarse-quantizer model: the
    ``(cent_id, centroid-as-doubles)`` rows ``ivf_topk`` routes against.
    Model-sized by construction (``n_cells`` rows); collecting it once
    per (process, corpus) and passing it to every probe is the
    train/serve split the persisted-index path already uses."""
    return [
        (r["__cent_id"], list(r["__cent_vec"]))
        for r in corpus.filter(F.col(id_col) % centroid_mod == 1)
        .orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("__cent_id"),
            F.col(vec_col).cast("array<double>").alias("__cent_vec"),
        )
        .collect()
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_probe: int = IVF_NPROBE,
    centroid_mod: int = IVF_CENTROID_MOD,
    n_cells: int = IVF_N_CELLS,
    cent_rows: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the industry-standard ANN
    scale path (Sivic&Zisserman'03 video-google; FAISS IVF*):

    1. coarse quantizer: a deterministic centroid subset
       (``id % centroid_mod == 1``; production would k-means — the plan
       shape is identical, only the centroid table differs),
    2. assignment: every corpus vector scores the model-sized centroid
       list ROW-LOCALLY and keeps its best cell (one streamed pass, no
       shuffle),
    3. probing: each query likewise keeps its ``n_probe`` best cells,
    4. candidates: corpus⋈queries on cell id — an equi-join that touches
       only probed cells (~n_probe/n_centroids of the corpus) instead of
       everything; exact cosine re-ranks within candidates.

    Recall/cost dial is n_probe. At 100 TB the assignment output
    (id, cell, vec) is the persisted "index": partition/bucket it BY CELL
    once and probes become partition-pruned scans with no shuffle at all.

    ``cent_rows`` (optional): the collected ``(cent_id, centroid)``
    model rows — the FAISS train/serve split. Callers that serve many
    queries against one corpus collect the model once and pass it here;
    omitted, the operator collects it itself (one model-sized job).
    """
    # Model-sized centroid subset collected ONCE (n_cells rows); cell
    # routing is then a ROW-LOCAL expression on both sides (r11, guide
    # §2.4): sort_array(desc) over the attached (cosine, -cent_id)
    # struct array, sliced to n and exploded — the former broadcast
    # join + top-n window paid an Exchange + sort over |side| x n_cells
    # rows per side. Descending (cosine, -cent_id) IS the window's
    # (cosine DESC, cent_id ASC) order; collected float32 centroids
    # widen exactly to the double literals cosine's fold casts to.
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    if cent_rows is None:
        cent_rows = ivf_centroid_rows(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            centroid_mod=centroid_mod,
            n_cells=n_cells,
        )

    import math

    from kafka_streams_the_clojure_way_spark.operators.clustering import (
        attach_model,
        seq_dot,
    )

    # The centroid table rides in as ONE attached model array (see
    # clustering.attach_model); centroid norms are driver constants via
    # the identical sequential fold, the row norm is a column evaluated
    # once, so the composed cosine is the same doubles in the same order
    # as cosine(svec, cent): dot / (sqrt(dot(v,v)) * sqrt(dot(c,c))).
    cent_model = [
        (-int(cid), [float(x) for x in v], math.sqrt(seq_dot(v)))
        for cid, v in cent_rows
    ]

    def best_cells(side: DataFrame, sid: str, svec: str, n: int) -> DataFrame:
        cand = F.transform(
            F.col("__cents"),
            lambda e: F.struct(
                (dot(F.col(svec), e["c"]) / (F.col("__nv") * e["n"])).alias(
                    "__cos"
                ),
                e["negid"].alias("__negid"),
            ),
        )
        best = F.slice(F.sort_array(cand, asc=False), 1, n)
        nv = f"__n_{svec}"
        return (
            attach_model(
                side,
                "__cents",
                cent_model,
                "array<struct<negid:bigint,c:array<double>,n:double>>",
            )
            .withColumn("__nv", norm_col(F.col(svec)))
            .select(sid, svec, F.col("__nv").alias(nv), F.explode(best).alias("__b"))
            .select(sid, svec, nv, (-F.col("__b.__negid")).alias("cell"))
        )

    corpus_cells = best_cells(
        with_min_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ),
        "neighbor_id",
        "__cvec",
        1,
    )
    probe = best_cells(
        queries.select(F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec")),
        query_id,
        "__qvec",
        n_probe,
    )
    scored = (
        corpus_cells.join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id))
        # one dot fold per candidate; both sides' norms rode through the
        # router (bit-equal to cosine(__qvec, __cvec) — cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__n___qvec"),
                F.col("__n___cvec"),
            ),
        )
    )
    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "cosine"),
        keys=[query_id],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine_r"),
    )


def ivf_topk_sql(
    table: str = "embeddings",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    id_cap: int | None = None,
    k: int = 10,
    n_probe: int = IVF_NPROBE,
    centroid_mod: int = IVF_CENTROID_MOD,
    n_cells: int = IVF_N_CELLS,
    exclude_sql: str | None = None,
) -> str:
    """DuckDB twin of ivf_topk with the same deterministic centroids.
    ``id_cap`` appends the absolute probe bound (id < cap) the registered
    queries carry so the probe set stays constant-sized at any SF.
    ``exclude_sql`` (a predicate over ``neighbor_id``) models TOMBSTONED
    vectors: excluded from candidate postings but NOT from centroid
    selection — exactly the frozen-quantizer delete semantics of
    ``ivf_index_delete`` (a deleted vector stops matching; the coarse
    quantizer it may have seeded is untouched)."""
    cap_sql = f" AND s.{id_col} < {id_cap}" if id_cap is not None else ""
    excl_sql = f" AND NOT ({exclude_sql})" if exclude_sql else ""
    cos_cent = cosine_sql(f"s.{vec_col}", f"c.{vec_col}")
    cos_qn = cosine_sql("q.qvec", "n.cvec")
    return f"""
    WITH cents AS (
        SELECT {id_col} AS cent_id, {vec_col} FROM {table}
        WHERE {id_col} % {centroid_mod} = 1 ORDER BY {id_col} LIMIT {n_cells}
    ),
    corpus_scored AS (
        SELECT s.{id_col} AS neighbor_id, s.{vec_col} AS cvec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS crank
        FROM {table} s, cents c
    ),
    corpus_cells AS (
        SELECT neighbor_id, cvec, cent_id AS cell FROM corpus_scored
        WHERE crank = 1{excl_sql}
    ),
    query_scored AS (
        SELECT s.{id_col} AS query_id, s.{vec_col} AS qvec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS crank
        FROM {table} s, cents c
        WHERE s.{id_col} % {query_mod} = 0{cap_sql}
    ),
    probe AS (
        SELECT query_id, qvec, cent_id AS cell FROM query_scored
        WHERE crank <= {n_probe}
    ),
    ranked AS (
        SELECT q.query_id, n.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos_qn} DESC, n.neighbor_id) AS rank,
               round({cos_qn}, 6) AS cosine_r
        FROM probe q JOIN corpus_cells n
          ON n.cell = q.cell AND n.neighbor_id != q.query_id
    )
    SELECT query_id, neighbor_id, rank, cosine_r FROM ranked WHERE rank <= {k}
    """


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Throughput variant: numpy matmul per Arrow batch via mapInPandas.
    The query matrix ships to every task (broadcast-equivalent); each
    corpus partition computes a local top-k, and a final per-query top-k
    merges partials — the canonical distributed k-NN reduction. Results
    match brute_force_topk up to FP reassociation (numpy SIMD sums), so
    this one is benchmarked, not oracle-hashed.

    The query set is driver-materialized and shipped whole to every task:
    it must be a bounded probe set, never a second corpus. Enforced below
    (limit+count probe, not just documented) so passing a large frame
    fails fast instead of OOMing the driver."""
    import numpy as np
    import pandas as pd

    n_probe_rows = queries.limit(MAX_PANDAS_QUERY_ROWS + 1).count()
    if n_probe_rows > MAX_PANDAS_QUERY_ROWS:
        raise ValueError(
            f"cosine_topk_pandas query set exceeds {MAX_PANDAS_QUERY_ROWS} rows "
            f"(got >{MAX_PANDAS_QUERY_ROWS}); it is driver-collected and "
            "broadcast to every task — use lsh_topk/ivf_topk for "
            "corpus-sized query sides"
        )
    qpd = queries.select(id_col, vec_col).toPandas()
    qids = qpd[id_col].to_numpy()
    qmat = np.stack(qpd[vec_col].to_numpy()).astype("float64")
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            cmat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            sims = qnorm @ cnorm.T  # |Q| x |batch|
            for qi, qid in enumerate(qids):
                row = sims[qi]
                mask = ids != qid
                cand_ids = ids[mask]
                cand_sims = row[mask]
                top = np.argsort(-cand_sims)[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "cosine": cand_sims[top],
                    }
                )

    partial = with_min_parallelism(corpus).select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    return top_k_per_key(
        partial,
        keys=["query_id"],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")


# --------------------------------------------------------------------------
# Persisted IVF index: build once, probe with partition pruning
# --------------------------------------------------------------------------

#: ``postings`` (the add-only anti-join's key) one file per cell
#: directory minus tombstoned vectors; the frozen quantizer is copied
#: unchanged, so a version root is complete.
IVF_LAYOUT = (
    IndexDataset("postings", ("cell",), drop_tombstoned),
    IndexDataset("centroids"),
)


def _ivf_postings(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, vec, cell): every vector assigned to its nearest
    (cent_id, cent_vec) centroid, ties to the lower cent_id — the cell
    assignment the IVF build and upsert share."""
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    scored = vectors.join(F.broadcast(cents)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col("cent_id"),
        cosine(F.col(vec_col), F.col("cent_vec")).alias("__cos"),
    )
    return top_k_per_key(
        scored,
        keys=["neighbor_id"],
        order_by=[F.col("__cos").desc(), F.col("cent_id")],
        k=1,
        rank_col="__r",
    ).select("neighbor_id", "vec", F.col("cent_id").alias("cell"))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = IVF_CENTROID_MOD,
    n_cells: int = IVF_N_CELLS,
) -> None:
    """Materialize the IVF index ``ivf_topk`` computes on the fly:
    ``path/centroids`` (the coarse quantizer) and ``path/postings``
    hive-PARTITIONED BY CELL. The expensive parts — the assignment pass
    and one shuffle into the cell layout — run exactly once; after that
    every probe is a partition-pruned scan of ~n_probe/n_cells of the
    corpus with no assignment work and no full-corpus shuffle. This is
    the build/serve split every production ANN system makes (FAISS
    train+add vs search). ``path/meta`` records the quantizer parameters
    and the postings id column (``neighbor_id``) tombstones key on."""
    cents = corpus.filter(F.col(id_col) % centroid_mod == 1).orderBy(id_col).limit(
        n_cells
    ).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    build_index(
        corpus, path, IVF_LAYOUT,
        lambda vectors, pin: (
            pin(_ivf_postings(vectors, cents, id_col, vec_col)), cents,
        ),
        (centroid_mod, n_cells, "neighbor_id"),
        "centroid_mod int, n_cells int, id_col string",
    )


def ivf_index_upsert(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assume_new_ids: bool = False,
) -> None:
    """ADD vectors to a persisted IVF index: route the batch against the
    EXISTING centroid table and append each vector's posting into its
    cell's partition directory (``dedup.index_upsert`` states the
    contract). The quantizer is frozen, as in every production IVF:
    adds route through the trained centroids, and a periodic
    re-train/rebuild handles drift. Per-cycle cost is O(batch x n_cells)
    scoring + one batch-sized append, corpus untouched."""
    index_upsert(
        spark, index_path, batch, IVF_LAYOUT,
        lambda vectors, meta, root, pin: (
            pin(_ivf_postings(
                vectors,
                read_static_schema(spark, f"{root}/centroids").select(
                    "cent_id", "cent_vec"
                ),
                meta["id_col"],
                vec_col,
            )),
            None,
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def ivf_index_delete(spark, index_path: str, ids, *, id_col: str = "vec_id") -> None:
    """``dedup.index_delete`` with the IVF id column default."""
    index_delete(spark, index_path, ids, id_col=id_col)


def compact_ivf_index(spark, index_path: str) -> str:
    """``dedup.compact_index`` over :data:`IVF_LAYOUT` (concurrent probes
    and crashes: see ``dedup.index_dataset_root``)."""
    return compact_index(spark, index_path, IVF_LAYOUT)


def ivf_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_probe: int = IVF_NPROBE,
) -> DataFrame:
    """Probe a persisted IVF index: queries pick their ``n_probe`` best
    cells against the (broadcast) centroid table, then join the postings
    ON THE PARTITION COLUMN — dynamic partition pruning turns that into
    a scan of only the probed cell directories. Same output contract as
    ``ivf_topk``."""
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    root = index_dataset_root(index_path)  # one snapshot per probe
    cents = F.broadcast(
        read_static_schema(spark, f"{root}/centroids").select(
            F.col("cent_id"), F.col("cent_vec")
        )
    )
    q = queries.select(F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec"))
    probe = top_k_per_key(
        q.join(cents).select(
            query_id,
            "__qvec",
            "cent_id",
            cosine(F.col("__qvec"), F.col("cent_vec")).alias("__cos"),
        ),
        keys=[query_id],
        order_by=[F.col("__cos").desc(), F.col("cent_id")],
        k=n_probe,
        rank_col="__cr",
    ).select(
        query_id,
        "__qvec",
        norm_col(F.col("__qvec")).alias("__qn"),
        F.col("cent_id").alias("cell"),
    )

    postings = read_static_schema(spark, f"{root}/postings")
    scored = (
        postings.withColumn("__cn", norm_col(F.col("vec")))
        .join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id))
        # one dot fold per candidate (bit-equal — see cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("vec")),
                F.col("__qn"),
                F.col("__cn"),
            ),
        )
    )
    # logical deletes, ABOVE the cell join so the scan keeps its dynamic
    # partition pruning; compact_ivf_index folds them in physically
    scored = drop_tombstoned(spark, scored, root, _index_meta(spark, index_path))
    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "cosine"),
        keys=[query_id],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine_r"),
    )


def ivf_index_topk_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_probe: int = IVF_NPROBE,
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The streaming ANN serve loop for the persisted IVF index — the
    vector twin of ``dedup.minhash_index_probe_stream``: every
    micro-batch of query vectors runs through :func:`ivf_index_topk`
    inside ``foreachBatch``, where the micro-batch is a plain batch
    frame, so the probe keeps its partition-pruned postings scan (a
    stream-static join could not prune — the static side cannot take a
    stream-derived filter). Per-trigger cost is O(batch x n_probe
    cells), independent of corpus size.

    ``sink``: a callable ``(topk_df, batch_id) -> None`` or a parquet
    directory path (results appended, one file per batch). The callable
    MUST materialize the frame before returning when ``upsert=True``.

    ``upsert=True`` is the continuous EMBEDDING-ingestion cycle: after
    serving a batch's neighbors, the batch's own vectors are added to
    the index (:func:`ivf_index_upsert`, routed through the frozen
    centroids), so later arrivals retrieve against earlier ones — the
    pattern behind online embedding-dedup and freshness-sensitive
    retrieval. foreachBatch is at-least-once; the default
    ``assume_new_ids=False`` keeps replays idempotent via the upsert's
    anti-join. ``compact_every=N`` runs :func:`compact_ivf_index` after
    every N-th upserting batch.

    Returns the started ``StreamingQuery`` (default trigger
    availableNow — drain-what-exists, then stop)."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: ivf_index_topk(
            spark, index_path, batch, k, id_col=id_col, vec_col=vec_col,
            query_id=query_id, n_probe=n_probe,
        ),
        lambda batch: ivf_index_upsert(
            spark, index_path, batch, id_col=id_col, vec_col=vec_col,
            assume_new_ids=assume_new_ids,
        ),
        compact_ivf_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )


def ivf_index_neardup_pairs(
    spark,
    index_path: str,
    queries: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = IVF_NPROBE,
) -> DataFrame:
    """Semantic near-duplicate PROBE against a persisted IVF index: the
    embedding-space twin of ``dedup.minhash_index_probe`` — every query
    vector retrieves its candidates from the probed cells (same
    partition-pruned postings scan as :func:`ivf_index_topk`) and every
    (probe, corpus) pair with cosine >= ``threshold`` is emitted. This
    is the SemDeDup-style "is an arriving doc semantically already in
    the corpus?" gate served from disk: per-batch cost is
    O(batch x n_cells) routing + a scan of only the probed cell
    directories, independent of corpus size.

    Approximation contract (identical to every IVF serve): only the
    ``n_probe`` best cells per query are searched, so a near-dup whose
    vector landed in an unprobed cell is missed — recall is the n_probe
    dial, and the oracle (:func:`ivf_neardup_pairs_between_sql`) models
    the probed-cells semantics exactly. A probe is never its own
    duplicate (probe_id != corpus_id). Tombstoned vectors never match.

    Output: (probe_id, corpus_id, cosine_r)."""
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    root = index_dataset_root(index_path)  # one snapshot per probe
    cents = F.broadcast(
        read_static_schema(spark, f"{root}/centroids").select(
            F.col("cent_id"), F.col("cent_vec")
        )
    )
    q = queries.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("__qvec"))
    probe = top_k_per_key(
        q.join(cents).select(
            "probe_id",
            "__qvec",
            "cent_id",
            cosine(F.col("__qvec"), F.col("cent_vec")).alias("__cos"),
        ),
        keys=["probe_id"],
        order_by=[F.col("__cos").desc(), F.col("cent_id")],
        k=n_probe,
        rank_col="__cr",
    ).select(
        "probe_id",
        "__qvec",
        norm_col(F.col("__qvec")).alias("__qn"),
        F.col("cent_id").alias("cell"),
    )

    postings = read_static_schema(spark, f"{root}/postings")
    scored = (
        postings.withColumn("__cn", norm_col(F.col("vec")))
        .join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        # one dot fold per candidate (bit-equal — see cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("vec")),
                F.col("__qn"),
                F.col("__cn"),
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    scored = drop_tombstoned(spark, scored, root, _index_meta(spark, index_path))
    return scored.select(
        "probe_id",
        F.col("neighbor_id").alias("corpus_id"),
        F.round("cosine", 6).alias("cosine_r"),
    )


def ivf_neardup_pairs_between_sql(
    probe_pred: str,
    corpus_pred: str,
    *,
    threshold: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = IVF_NPROBE,
    centroid_mod: int = IVF_CENTROID_MOD,
    n_cells: int = IVF_N_CELLS,
) -> str:
    """DuckDB twin of :func:`ivf_index_neardup_pairs` with both sides
    selected from ``table`` by predicate (``probe_pred`` may reference
    outer CTEs — the composed ingestion oracle passes an
    ``IN (SELECT ...)`` form). Centroids come from the CORPUS side only,
    exactly like an index built on the corpus slice; the probed-cells
    approximation is modeled, not idealized."""
    cos_cent = cosine_sql(f"s.{vec_col}", f"c.{vec_col}")
    cos_pn = cosine_sql("p.qvec", "n.cvec")
    return f"""
    WITH cents AS (
        SELECT {id_col} AS cent_id, {vec_col} FROM {table}
        WHERE ({corpus_pred}) AND {id_col} % {centroid_mod} = 1
        ORDER BY {id_col} LIMIT {n_cells}
    ),
    cscore AS (
        SELECT s.{id_col} AS nid, s.{vec_col} AS cvec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS r
        FROM (SELECT * FROM {table} s WHERE {corpus_pred}) s, cents c
    ),
    corpus_cells AS (SELECT nid, cvec, cent_id AS cell FROM cscore WHERE r = 1),
    qscore AS (
        SELECT s.{id_col} AS pid, s.{vec_col} AS qvec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS r
        FROM (SELECT * FROM {table} s WHERE {probe_pred}) s, cents c
    ),
    probe AS (SELECT pid, qvec, cent_id AS cell FROM qscore WHERE r <= {n_probe})
    SELECT p.pid AS probe_id, n.nid AS corpus_id, round({cos_pn}, 6) AS cosine_r
    FROM probe p JOIN corpus_cells n
      ON n.cell = p.cell AND n.nid != p.pid
    WHERE {cos_pn} >= {threshold}
    """


# --------------------------------------------------------------------------
# int8 quantized similarity: 4x memory/bandwidth, integer-exact oracle
# --------------------------------------------------------------------------

#: symmetric int8 range; scale = amax/127 keeps every code in [-127, 127]
QUANT_LEVELS = 127


def quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: codes
    ``floor(x / (amax/127) + 0.5)`` in [-127, 127] (floor+0.5, NOT
    round — identical tie behavior in Spark and DuckDB). Codes are
    carried as LONG for exact integer dot products; the storage claim is
    int8 (1 byte/dim vs 4 for float32 — 4x less scan bandwidth and ANN
    memory at 100 TB). An all-zero vector quantizes to all-zero codes.

    ``scale`` (itself an O(d) array_max reduction) is let-bound before
    the per-element code lambda — closed over inline it would re-reduce
    the vector per element, O(d^2) per row (portable.let_col)."""
    from kafka_streams_the_clojure_way_spark.functions.portable import let_col

    def body(vd: Column) -> Column:
        def with_amax(amax: Column) -> Column:
            scale = amax / F.lit(float(QUANT_LEVELS))
            zero = F.transform(vd, lambda x: F.lit(0).cast("long"))
            codes = F.transform(
                vd, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")
            )
            return F.when(amax == 0, zero).otherwise(codes)

        return let_col(
            F.array_max(F.transform(vd, lambda x: F.abs(x))), with_amax
        )

    return let_col(vec.cast("array<double>"), body)


def quantize_sql(vec: str) -> str:
    vd = f"CAST({vec} AS DOUBLE[])"
    amax = f"list_max(list_transform({vd}, x -> abs(x)))"
    codes = (
        f"list_transform({vd}, x -> CAST(floor(x / (({amax}) / {QUANT_LEVELS}.0)"
        " + 0.5) AS BIGINT))"
    )
    zero = f"list_transform({vd}, x -> CAST(0 AS BIGINT))"
    return f"(CASE WHEN {amax} = 0 THEN {zero} ELSE {codes} END)"


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product over code arrays — exact, order-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_dot_sql(a: str, b: str) -> str:
    zipped = f"list_zip({a}, {b})"
    prods = f"list_transform({zipped}, p -> p[1] * p[2])"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {prods}),"
        " (acc, v) -> acc + v)"
    )


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine of the DEQUANTIZED vectors, computed purely from integer
    sums: the per-vector scales cancel (cos(s1*q1, s2*q2) =
    Σq1q2 / (√Σq1² √Σq2²)), so everything up to the final division is
    exact integer arithmetic — which is what makes this ANN variant
    bit-reproducible across engines, unlike float accumulation."""
    return int_dot(qa, qb) / (
        F.sqrt(int_dot(qa, qa).cast("double"))
        * F.sqrt(int_dot(qb, qb).cast("double"))
    )


def quantized_cosine_sql(qa: str, qb: str) -> str:
    return (
        f"({int_dot_sql(qa, qb)} / (sqrt(CAST({int_dot_sql(qa, qa)} AS DOUBLE))"
        f" * sqrt(CAST({int_dot_sql(qb, qb)} AS DOUBLE))))"
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: the memory/bandwidth
    tier between exact float search and bucketed ANN. Same broadcast-
    queries/streamed-corpus shape as brute_force_topk; candidates scored
    by quantized cosine (integer dots). Quantization error on ranks is
    the documented trade-off (order 1/127 per cosine) — re-rank the top-k
    with float vectors when exact order matters."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id), quantize(F.col(vec_col)).alias("__qq")
        )
    )
    scored = (
        with_min_parallelism(corpus)
        .select(F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("__qc"))
        .join(q, F.col("neighbor_id") != F.col(query_id))
        .withColumn("qcosine", quantized_cosine(F.col("__qq"), F.col("__qc")))
    )
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "qcosine"),
        keys=[query_id],
        order_by=[F.col("qcosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("qcosine", 6).alias("qcosine_r"),
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval — THE production ANN pattern: stage 1 scans
    the corpus in int8 (quantized_topk, 4x less bandwidth) for
    ``n_candidates`` per query; stage 2 re-scores only those candidates
    with exact float cosine and keeps the top ``k``. Final ranks carry
    full float precision while the corpus-sized work stays quantized;
    the candidate pool bounds the quality loss (a true top-k member is
    lost only if quantization pushes it below rank ``n_candidates``).
    The stage-2 join touches |queries| x n_candidates rows — broadcast-
    sized by construction."""
    cand = quantized_topk(
        corpus, queries, n_candidates,
        id_col=id_col, vec_col=vec_col, query_id=query_id,
    ).select(query_id, "neighbor_id")
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id),
            F.col(vec_col).alias("__qvec"),
            norm_col(F.col(vec_col)).alias("__qn"),
        )
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_col(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        cand.join(qv, query_id)
        .join(cv, "neighbor_id")
        # one dot fold per candidate (bit-equal — see cosine_prenorm)
        .withColumn(
            "cosine",
            cosine_prenorm(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__qn"),
                F.col("__cn"),
            ),
        )
    )
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    return top_k_per_key(
        scored.select(query_id, "neighbor_id", "cosine"),
        keys=[query_id],
        order_by=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select(
        query_id,
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 6).alias("cosine_r"),
    )


MMR_LAMBDA = 0.7
MMR_N_CAND = 20


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_cand: int = MMR_N_CAND,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    assume_bounded: bool = False,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): per query, greedily pick the candidate
    maximizing ``lam * rel(q,d) - (1-lam) * max_{s in S} sim(d,s)`` —
    relevance traded against redundancy with the already-selected set.
    The de-facto diversification pass over any dense-retrieval shortlist
    (and the dedup-aware flavor of few-shot example selection).

    Scale shape: MMR is inherently sequential in k, so the design keeps
    the SEQUENTIAL part bounded and the data-sized part distributed:

    - candidate generation is the bounded-probe brute-force scorer
      (broadcast queries x streamed corpus; swap in the LSH/IVF tiers for
      production shortlists) truncated to ``n_cand`` per query;
    - the candidate-pair similarity table is n_cand^2 rows PER QUERY —
      a constant decided by the operator, never corpus-sized;
    - the k-pick greedy chain itself runs per query inside ONE
      cogrouped Arrow stage (cand ⨝ pairs grouped on query_id): every
      query's chain is independent, so the inherently sequential part
      parallelizes over queries with a single shuffle of the two
      bounded tables — the r11 rewrite of the previous shape (k-1
      driver rounds of anti-join + equi-join + WindowGroupLimit + eager
      localCheckpoint; measured 4.0 s -> ~1.6 s on the registered query
      at sf0.1, guide §1.2/§2.4: the per-round fixed job cost WAS the
      query).

    Determinism/portability: rel and pairwise sims round to 6 before
    EVERY argmax (ties broken by id), exactly as before — the chain
    consumes only those already-rounded values, and its one in-chain
    rounding (the MMR score) reproduces Spark's ``round`` (BigDecimal
    HALF_UP on the shortest decimal repr) bit-for-bit via
    decimal.Decimal, so Spark and the DuckDB recursive-CTE oracle pick
    identical rows despite last-ulp float differences. Returns
    (query_id, neighbor_id, pick) with pick in 1..k in selection
    order."""
    scored = brute_force_topk(corpus, queries, k=n_cand, id_col=id_col,
                              vec_col=vec_col, query_id=query_id,
                              assume_bounded=assume_bounded)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vec"),
        norm_col(F.col(vec_col)).alias("__n"),
    )
    cand = (
        scored.select(query_id, "neighbor_id", F.col("cosine_r").alias("rel"))
        .join(vecs, "neighbor_id")
        .cache()
    )
    a = cand.select(
        query_id,
        F.col("neighbor_id").alias("ida"),
        F.col("__vec").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = cand.select(
        query_id,
        F.col("neighbor_id").alias("idb"),
        F.col("__vec").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = a.join(b, query_id).filter(F.col("ida") != F.col("idb")).select(
        F.col(query_id).alias("__qp"), "ida", "idb",
        # one dot fold per candidate pair (bit-equal — cosine_prenorm)
        F.round(
            cosine_prenorm(
                dot(F.col("__va"), F.col("__vb")),
                F.col("__na"),
                F.col("__nb"),
            ),
            6,
        ).alias("sim"),
    )
    slim = cand.select(query_id, "neighbor_id", "rel")
    lam_f = float(lam)
    red_f = 1.0 - lam  # the SAME python-double literal the plan used
    k_i = int(k)

    def _chain(cand_pdf, pairs_pdf):
        # one query's greedy MMR chain over its bounded candidate set —
        # plain python over <= n_cand rows; float64 arithmetic and
        # HALF_UP rounding identical to the JVM expressions it replaces.
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("1e-6")

        def round6(x: float) -> float:
            # Spark Round(double, 6): BigDecimal.valueOf == shortest
            # decimal repr (Double.toString == python repr), HALF_UP.
            return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

        if cand_pdf.empty:
            return pd.DataFrame(columns=[query_id, "neighbor_id", "pick"])
        qid = cand_pdf[query_id].iloc[0]
        rel = dict(zip(cand_pdf["neighbor_id"], cand_pdf["rel"]))
        sims: dict = {}
        for ida, idb, s in zip(
            pairs_pdf["ida"], pairs_pdf["idb"], pairs_pdf["sim"]
        ):
            sims.setdefault(ida, {})[idb] = s
        first = min(rel, key=lambda nid: (-rel[nid], nid))
        sel = [first]
        remaining = sorted(nid for nid in rel if nid != first)
        while len(sel) < k_i and remaining:
            best = None
            best_score = None
            for nid in remaining:
                row = sims.get(nid, {})
                avail = [row[s] for s in sel if s in row]
                if not avail:
                    continue  # inner-join semantics: no pair row, no score
                score = round6(lam_f * rel[nid] - red_f * max(avail))
                if best is None or score > best_score:
                    best, best_score = nid, score
            if best is None:
                break
            sel.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                query_id: [qid] * len(sel),
                "neighbor_id": sel,
                "pick": list(range(1, len(sel) + 1)),
            }
        )

    def chain(key, cand_pdf, pairs_pdf):
        return _chain(cand_pdf, pairs_pdf)

    return (
        slim.groupBy(query_id)
        .cogroup(pairs.groupBy("__qp"))
        .applyInPandas(
            chain, f"{query_id} long, neighbor_id long, pick long"
        )
    )


KCENTER_K = 8

#: Below this many corpus rows the greedy k-center chain runs on the
#: driver: ONE bounded collect (100k rows x 64 double dims ≈ 50 MB)
#: replaces k TakeOrdered jobs whose per-round planning/job overhead
#: dominates at small scale — the same adaptive escape hatch
#: ``graph.LOCAL_CC_MAX_EDGES`` ships for connected components. The
#: local chain reproduces the distributed arithmetic BIT-FOR-BIT: the
#: dot products fold in dimension order (a numpy loop over dims is the
#: same left fold as ``aggregate(zip_with(...))``), and rounding is the
#: same HALF_UP-on-shortest-repr as Spark's ``round``. Larger corpora
#: take the distributed incremental-min loop below; pass 0 to force it.
KCENTER_LOCAL_MAX_ROWS = 100_000


def _spark_round6_array(x):
    """Elementwise Spark ``round(x, 6)`` (BigDecimal HALF_UP on the
    shortest decimal repr) over a float64 numpy array. Fast path:
    ``floor(x*1e6 + 0.5)/1e6`` — exact except within the binary error
    band of a .5 boundary, where (plus negatives/non-finites) the
    decimal-exact scalar path decides. Pinned against Spark's round in
    tests/test_round11_fixes.py."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    m = x * 1e6
    out = np.floor(m + 0.5) / 1e6
    with np.errstate(invalid="ignore"):
        near = np.abs(m - np.floor(m) - 0.5) < 1e-6
        fix = near | (x < 0) | ~np.isfinite(x)
    q = Decimal("1e-6")
    for i in np.nonzero(fix)[0]:
        xi = float(x[i])
        if math.isnan(xi) or math.isinf(xi):
            out[i] = xi
        else:
            out[i] = float(Decimal(repr(xi)).quantize(q, rounding=ROUND_HALF_UP))
    return out


def _kcenter_local(rows, k: int, id_col: str) -> list[tuple]:
    """Driver-side greedy k-center over collected (id, __v) rows —
    bit-identical to the distributed chain: dot products fold in
    DIMENSION ORDER (a numpy loop over dims reproduces the
    ``aggregate(zip_with(...))`` left fold exactly), rounding is
    Spark's HALF_UP, the min-fold uses ``fmin`` (NaN loses, like
    Spark's ``least`` under NaN-greatest ordering), and the argmax
    orders (mind DESC NULLS LAST, id ASC)."""
    import numpy as np

    ids = [r[id_col] for r in rows]
    raw = [r["__v"] for r in rows]
    n = len(rows)
    dims = None
    for v in raw:
        if v is not None and not any(e is None for e in v):
            dims = len(v)
            break
    valid = np.array(
        [
            v is not None and not any(e is None for e in v) and len(v) == dims
            for v in raw
        ],
        dtype=bool,
    )
    order = sorted(range(n), key=lambda i: ids[i])
    first = order[0]
    picks = [(ids[first], 1)]
    picked = {first}
    if dims is None or k == 1:
        return picks[: k if k >= 1 else 0]

    V = np.zeros((n, dims), dtype=np.float64)
    for i in np.nonzero(valid)[0]:
        V[i] = raw[i]
    # per-row self-dot in dimension order: ((0 + v0*v0) + v1*v1) + ...
    self_dot = np.zeros(n, dtype=np.float64)
    for d in range(dims):
        self_dot = self_dot + V[:, d] * V[:, d]
    self_norm = np.sqrt(self_dot)
    idx_by_id = sorted(range(n), key=lambda i: ids[i])

    def dist_to(center_i: int):
        c = V[center_i]
        cd = 0.0
        for d in range(dims):
            cd = cd + float(c[d]) * float(c[d])
        acc = np.zeros(n, dtype=np.float64)
        for d in range(dims):
            acc = acc + V[:, d] * c[d]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = acc / (self_norm * np.sqrt(cd))
        return _spark_round6_array(1.0 - cos)

    mind = None
    last = first
    while len(picks) < k:
        if valid[last]:
            d_new = dist_to(last)
            mind = d_new if mind is None else np.fmin(mind, d_new)
        best = None
        for i in idx_by_id:  # id-ascending: first win takes each tie
            if i in picked or not valid[i] or mind is None:
                continue
            di = mind[i]
            if best is None:
                best = i
                continue
            db = mind[best]
            # DESC with NaN greatest: NaN beats everything non-NaN
            if (np.isnan(di) and not np.isnan(db)) or (
                not np.isnan(db) and not np.isnan(di) and di > db
            ):
                best = i
        if best is None:
            # no valid-distance candidate: lowest unpicked id (the
            # NULLS LAST tail of the distributed ordering)
            rest = [i for i in idx_by_id if i not in picked]
            if not rest:
                break
            best = rest[0]
        picks.append((ids[best], len(picks) + 1))
        picked.add(best)
        last = best
    return picks


def kcenter_coreset(
    corpus: DataFrame,
    k: int = KCENTER_K,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez'85 farthest-point
    traversal; Sener & Savarese ICLR'18 use it as THE coreset rule for
    data selection): start from the lowest-id vector, then repeatedly
    add the point FARTHEST (max-min cosine distance) from everything
    selected so far — a 2-approximation of the optimal k-center cover,
    i.e. k exemplars spread to cover the embedding space, the
    complement of MMR's per-query reranking.

    Scale shape: the chain is sequential in k (inherent to the greedy
    guarantee), so k is a bounded constant and each of the k-1 rounds is
    ONE distributed corpus pass: a running per-vector min-distance rides
    as a narrow projection over the cached corpus (each round folds in
    only the NEWLY picked center via ``least`` — min over centers is
    associative, so the running fold equals the all-centers min the
    definition states), and the global argmax is TakeOrderedAndProject
    (per-partition top-1; the driver merges partition-count rows and
    receives the winner's id AND vector — one k-bounded row). No joins,
    no broadcast builds, no per-round checkpoints: the r11 plan went
    from (anti-join + broadcast-join + groupBy + TakeOrdered + eager
    localCheckpoint) x (k-1) rounds to exactly ONE TakeOrdered job per
    round over a lineage of k narrow projections (measured 4.5 s ->
    ~0.9 s on the registered query at sf0.1; guide §2.4 — remove
    shuffles outright, §1.2 — fix the distributed algorithm first).

    Determinism: distance = round(1 - cosine, 6) with lowest-id
    tiebreak at every argmax — the per-center rounding happens before
    the fold exactly as it happened before the min aggregate, so the
    chain is bit-reproducible and matches the DuckDB recursive-CTE
    oracle step for step. Returns (id, pick) with pick in 1..k in
    selection order."""
    from pyspark.sql import types as _T

    spark = corpus.sparkSession
    vecs = (
        with_min_parallelism(corpus)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .cache()
    )
    id_type = vecs.schema[id_col].dataType
    out_schema = _T.StructType(
        [
            _T.StructField(id_col, id_type),
            _T.StructField("pick", _T.LongType()),
        ]
    )

    def lit_vec(values) -> Column:
        return F.array(*[F.lit(None).cast("double") if x is None else F.lit(float(x)) for x in values])

    n_rows = vecs.count()
    if n_rows == 0:
        vecs.unpersist()
        return spark.createDataFrame([], out_schema)
    if n_rows <= KCENTER_LOCAL_MAX_ROWS:
        rows = vecs.collect()  # bounded by the documented cap
        vecs.unpersist()
        return spark.createDataFrame(
            _kcenter_local(rows, k, id_col), out_schema
        )
    seed = vecs.orderBy(id_col).limit(1).collect()
    picks = [(seed[0][id_col], 1)]
    # state = every unselected vector with its running min rounded
    # distance to the selected set; each round appends one narrow
    # projection (filter + least) — lineage depth k, never checkpointed.
    state = vecs.filter(F.col(id_col) != F.lit(picks[0][0])).select(
        F.col(id_col),
        F.col("__v"),
        F.round(1.0 - cosine(F.col("__v"), lit_vec(seed[0]["__v"])), 6).alias(
            "__mind"
        ),
    )
    for step in range(2, k + 1):
        win = (
            state.orderBy(F.col("__mind").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not win:
            break
        picks.append((win[0][id_col], step))
        if step == k:
            break
        state = state.filter(F.col(id_col) != F.lit(win[0][id_col])).select(
            F.col(id_col),
            F.col("__v"),
            F.least(
                F.col("__mind"),
                F.round(1.0 - cosine(F.col("__v"), lit_vec(win[0]["__v"])), 6),
            ).alias("__mind"),
        )
    vecs.unpersist()
    return spark.createDataFrame(picks, out_schema)
