"""Product quantization (PQ) for vector search (Jegou, Douze, Schmid,
TPAMI 2011 "Product Quantization for Nearest Neighbor Search"): split
each embedding into M subvectors, vector-quantize every subspace with a
K-entry codebook, and answer queries by Asymmetric Distance Computation
(ADC) — the query stays float, each corpus vector collapses to M small
codes, and its approximate L2 distance is a sum of M table lookups.

Why this exists at 100 TB: PQ compresses a 64-dim float vector (256 B+)
to M log2(K) bits (4 bytes here) — the memory/bandwidth tier that makes
billion-vector scans feasible, and the residual-quantizer IVF-PQ (FAISS'
workhorse) composes this with operators/similarity.py's IVF routing:
route to cells, then ADC-scan only the probed cells' codes.

Everything is deterministic and engine-portable, like operators/
clustering.py (the same discipline extended per-subspace):

- codebooks: grouped Lloyd k-means over (subspace, subvector) rows —
  init is the K lowest-id vectors per subspace, assignment the same
  sequential-fold L2 with (distance, code) tie-break, means via integer
  unit sums. ALL subspaces train in the SAME Spark jobs (the subspace id
  is just another grouping key), so M multiplies row counts, not
  driver-loop rounds.
- ADC distances: each (query, subspace, code) lookup value is rounded to
  integer units (``floor(d * 1e9 + 0.5)``), so the per-pair sum of M
  lookups is exact BIGINT arithmetic — order-insensitive, hence
  groupBy-safe and bit-identical to the DuckDB unrolled-CTE oracle.

Scale shape of the query path (r12, guide §2.4): corpus codes are ONE
packed row per vector (``codes`` array<int>, M entries); each query's
full M x K ADC table rides along as one flattened long array on a
BROADCAST side (n_queries rows — tiny by construction), and the per-pair
distance is an M-term row-local integer fold ``lut[s*K + codes[s]]`` —
no per-(vector, subspace) row expansion and no groupBy(query, vector)
shuffle of the corpus x queries candidates (the pre-r12 shape paid
both), just the partial top-k. No all-pairs float math ever touches the
corpus side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.sources.files import read_static_schema

from kafka_streams_the_clojure_way_spark.operators.clustering import (
    MEAN_UNITS,
    _sq_dist,
    _sq_dist_sql,
    attach_model,
    seq_dot,
)
from kafka_streams_the_clojure_way_spark.operators.similarity import (
    IVF_N_CELLS,
    dot,
)

PQ_M = 4          # subspaces
PQ_K = 16         # codes per subspace (4-bit codes)
PQ_ITERS = 2      # Lloyd rounds per subspace (fixed, oracle-unrollable)
ADC_UNITS = 1_000_000_000  # integer-unit scale for ADC lookup values


def _subvector_frame(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    subdim: int,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra...,] s, sub) — one row per (vector, subspace)."""
    vec = F.col(vec_col).cast("array<double>")
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(vec, s * subdim + 1, subdim).alias("sub"),
            )
            for s in range(m)
        ]
    )
    return corpus.select(F.col(id_col), *extra, F.explode(slices).alias("e")).select(
        id_col, *extra, F.col("e.s").alias("s"), F.col("e.sub").alias("sub")
    )


#: attach_model schema for a per-subspace codebook value (see
#: :func:`_codebook_by_s`).
_CB_SCHEMA = "array<array<struct<code:int,v:array<double>>>>"


def _codebook_by_s(codebook_rows) -> list:
    """Codebook rows -> the attach_model value: one candidate list per
    subspace, code-ascending. The packed encoder and the row-local LUT
    both index positionally (``lut[s*K + code]``), so code ids must be
    exactly 0..K-1 in every subspace — which the trainer guarantees
    (seed assigns 0..k-1 per subspace and keys never change); verified
    here so a foreign codebook cannot silently mis-index. Subspace ids
    must likewise be exactly 0..M-1: callers index ``element_at(__cb,
    s + 1)`` with ``m = 1 + max(s)``, so a gap would mis-align them."""
    by_s: dict[int, list] = {}
    for s, c, v in sorted(codebook_rows):
        by_s.setdefault(s, []).append((c, [float(x) for x in v]))
    if sorted(by_s) != list(range(len(by_s))):
        raise ValueError(
            f"codebook subspace ids {sorted(by_s)} are not 0..M-1; "
            "rebuild the model with pq_model/ivfpq_model"
        )
    value = [by_s[s] for s in sorted(by_s)]
    k = len(value[0])
    for cands in value:
        if [c for c, _ in cands] != list(range(k)):
            raise ValueError("codebook codes must be 0..K-1 per subspace")
    return value


def _encode_packed(
    corpus: DataFrame,
    codebook_rows,
    *,
    m: int,
    subdim: int,
    id_col: str,
    vec_col: str,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Row-local packed encode: (id[, extra...], codes array<int>) where
    ``codes[s]`` is the subspace's nearest-code id. Per-s argmin is the
    same ``array_min`` over (distance, code) structs as the trainer's
    assign step — identical float fold on the identical slice, so the
    packed array agrees element-for-element with the former per-(id, s)
    rows — computed as one expression over the vector column: no
    subvector explode, no per-row model join."""
    vec = F.col(vec_col).cast("array<double>")
    codes_arr = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(
            F.transform(
                F.element_at(F.col("__cb"), s + 1),
                lambda e: F.struct(
                    _sq_dist(F.slice(vec, s * subdim + 1, subdim), e["v"]).alias(
                        "d"
                    ),
                    e["code"].alias("code"),
                ),
            )
        )["code"],
    )
    return attach_model(corpus, "__cb", _codebook_by_s(codebook_rows), _CB_SCHEMA).select(
        F.col(id_col), *extra, codes_arr.alias("codes")
    )


def _adc_lut_arr(
    side: DataFrame,
    codebook_rows,
    *,
    m: int,
    subdim: int,
    query_id: str,
    vec_col: str,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Row-local ADC table build: (query_id[, extra...], __lut) where
    ``__lut`` is the flattened M x K long array, s-major / code-minor —
    index ``s*K + code``. Each entry is the same
    ``floor(sq_dist(sub, c) * ADC_UNITS + 0.5)`` integer unit the
    former (query, s, code) LUT rows carried (identical float fold on
    the identical slice), built as one expression per query row instead
    of an M-way explode + codebook join."""
    vec = F.col(vec_col).cast("array<double>")
    lut = F.flatten(
        F.transform(
            F.col("__cb"),
            lambda cands, s: F.transform(
                cands,
                lambda e: F.floor(
                    _sq_dist(F.slice(vec, s * subdim + 1, subdim), e["v"])
                    * ADC_UNITS
                    + F.lit(0.5)
                ).cast("long"),
            ),
        )
    )
    return attach_model(side, "__cb", _codebook_by_s(codebook_rows), _CB_SCHEMA).select(
        F.col(query_id), *extra, lut.alias("__lut")
    )


def pq_model(
    corpus: DataFrame,
    *,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> tuple[list[tuple[int, int, list[float]]], DataFrame]:
    """Train PQ codebooks and encode the corpus.

    Returns ``(codebook_rows, codes)``: ``codebook_rows`` is the tiny
    trained model as ``(s, code, centroid)`` tuples (M*K rows — the
    artifact a production job persists), ``codes`` a DataFrame
    ``(id[, extra_cols...], codes array<int>)`` of packed corpus
    assignments — one row per vector, ``codes[s]`` the subspace's code
    (r12; the former per-(id, s) layout paid an M-way row expansion on
    every serve join). ``extra_cols`` ride through from ``corpus`` onto
    the encoded output (IVF-PQ threads its ``cell`` here instead of
    re-joining the routed corpus).
    """
    from kafka_streams_the_clojure_way_spark.sources.files import with_min_parallelism

    dim = len(
        corpus.select(F.col(vec_col).cast("array<double>").alias("__v"))
        .first()["__v"]
    )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    subs = _subvector_frame(
        with_min_parallelism(corpus), id_col, vec_col, m, subdim
    ).cache()

    # init: the k lowest-id vectors seed every subspace's codebook, code
    # ids assigned in id order (the clustering.py convention, per-s)
    seed = subs.filter(
        F.col(id_col).isin(
            [r[0] for r in corpus.select(id_col).orderBy(id_col).limit(k).collect()]
        )
    ).collect()
    order = sorted({row[id_col] for row in seed})
    code_of_id = {vid: i for i, vid in enumerate(order)}
    codebook: dict[tuple[int, int], list[float]] = {
        (row["s"], code_of_id[row[id_col]]): list(row["sub"]) for row in seed
    }

    def assign(cb: dict[tuple[int, int], list[float]]) -> DataFrame:
        # Row-local per-subspace argmin (r11, guide §2.4): the codebook
        # is a driver-side M x K constant, so the code assignment is a
        # CASE WHEN on the subspace id over literal (distance, code)
        # struct arrays — array_min's lexicographic struct order IS the
        # former window's (distance ASC, code ASC) tie-break, and the
        # K-way broadcast join + top-1 window (an Exchange + sort per
        # Lloyd round and per encode pass) disappears outright.
        by_s: dict[int, list[tuple[int, list[float]]]] = {}
        for (s, c), v in sorted(cb.items()):
            by_s.setdefault(s, []).append((c, v))
        # the attached model is indexed by subspace id; the per-row
        # argmin is a transform over that subspace's candidate array
        # (see clustering.attach_model for why not literals).
        cand = F.transform(
            F.element_at(F.col("__cb"), F.col("s") + 1),
            lambda e: F.struct(
                _sq_dist(F.col("sub"), e["v"]).alias("d"),
                e["code"].alias("code"),
            ),
        )
        return attach_model(
            subs,
            "__cb",
            [
                [(c, [float(x) for x in v]) for c, v in by_s[s]]
                for s in sorted(by_s)
            ],
            "array<array<struct<code:int,v:array<double>>>>",
        ).select(
            id_col, "s", "sub", F.array_min(cand)["code"].alias("code")
        )

    for _ in range(n_iter):
        sums = (
            assign(codebook)
            .select("s", "code", F.posexplode("sub").alias("__dim", "__x"))
            .withColumn(
                "__u", F.floor(F.col("__x") * MEAN_UNITS + F.lit(0.5)).cast("long")
            )
            .groupBy("s", "code", "__dim")
            .agg(F.sum("__u").alias("__su"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for row in sums:
            means.setdefault((row["s"], row["code"]), {})[row["__dim"]] = (
                float(row["__su"]) / MEAN_UNITS / row["__n"]
            )
        codebook = {
            key: [means[key][d] for d in range(subdim)] if key in means else prev
            for key, prev in codebook.items()
        }

    subs.unpersist()
    rows = [(s, c, v) for (s, c), v in sorted(codebook.items())]
    codes = _encode_packed(
        with_min_parallelism(corpus),
        rows,
        m=m,
        subdim=subdim,
        id_col=id_col,
        vec_col=vec_col,
        extra=extra_cols,
    )
    return rows, codes


def _adc_rank(
    codes: DataFrame,
    lut: DataFrame,
    join_keys: list[str],
    *,
    m: int,
    k: int,
    top_k: int,
    id_col: str,
    query_id: str,
) -> DataFrame:
    """Shared ADC tail (r12, row-local): attach each query's broadcast
    ``__lut`` array to the packed corpus codes (equi-join on
    ``join_keys`` when the LUT is per-(query, cell), a broadcast cross
    when it is per-query), self-match filter, then the ADC distance as
    an M-term BIGINT fold ``lut[s*K + codes[s]]`` evaluated per row —
    exact integer adds in a fixed order, so it equals the former
    groupBy(query, vector) SUM over per-subspace rows term for term —
    and the partial top-k. Both the flat PQ scan and IVF-PQ end here —
    one place to fix, not three."""
    from kafka_streams_the_clojure_way_spark.operators.relational import top_k_per_key

    if join_keys:
        joined = codes.join(F.broadcast(lut), join_keys)
    else:
        joined = codes.crossJoin(F.broadcast(lut))
    units = None
    for s in range(m):
        term = F.element_at(
            F.col("__lut"),
            (F.lit(s * k) + F.element_at(F.col("codes"), s + 1) + F.lit(1)).cast(
                "int"
            ),
        )
        units = term if units is None else units + term
    scored = joined.filter(F.col(id_col) != F.col(query_id)).select(
        query_id, id_col, units.alias("adc_units")
    )
    return top_k_per_key(
        scored,
        keys=[query_id],
        order_by=[F.col("adc_units").asc(), F.col(id_col).asc()],
        k=top_k,
        rank_col="rank",
    ).select(
        query_id,
        F.col(id_col).alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        "adc_units",
    )


def adc_topk(
    codes: DataFrame,
    codebook_rows: list[tuple[int, int, list[float]]],
    queries: DataFrame,
    *,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """ADC top-k: queries stay float, the corpus is its codes.

    Builds each query's full M x K integer-unit ADC table as one
    broadcast array row (n_queries rows), crosses it against the packed
    corpus codes, folds the M lookups row-locally, and partial-top-k's
    the BIGINT distances. Output: (query_id, neighbor_id, rank,
    adc_units)."""
    m = 1 + max(s for s, _, _ in codebook_rows)
    k = 1 + max(c for _, c, _ in codebook_rows)
    subdim = len(codebook_rows[0][2])
    lut = _adc_lut_arr(
        queries.select(F.col(id_col).alias(query_id), vec_col),
        codebook_rows,
        m=m,
        subdim=subdim,
        query_id=query_id,
        vec_col=vec_col,
    )
    return _adc_rank(
        codes, lut, [], m=m, k=k, top_k=top_k, id_col=id_col, query_id=query_id
    )


def _sub_cte_sql(source: str, id_col: str, m: int, subdim: int, extra: str = "") -> str:
    """``sub`` CTE body: slice a ``(id, [extra,] vv DOUBLE[])`` source
    into one row per (vector, subspace)."""
    return f"""sub AS (
        SELECT {id_col}, {extra + ', ' if extra else ''}CAST(t.s AS INTEGER) AS s,
               vv[(CAST(t.s AS INTEGER) * {subdim} + 1):((CAST(t.s AS INTEGER) + 1) * {subdim})] AS sub
        FROM {source}, UNNEST(range(0, {m})) AS t(s)
    )"""


def _pq_train_ctes(id_col: str, k: int, n_iter: int) -> list[str]:
    """Grouped-kmeans training chain over a CTE named ``sub``
    (id, s, sub) -> codebook CTE ``c{n_iter}`` (s, code, c) plus a
    ``codes`` CTE (id, s, code). Same constants as :func:`pq_model`."""
    dist = _sq_dist_sql("sub.sub", "c.c")
    parts = [
        f"""seed AS (
        SELECT {id_col}, ROW_NUMBER() OVER (ORDER BY {id_col}) - 1 AS code
        FROM (SELECT DISTINCT {id_col} FROM sub ORDER BY {id_col} LIMIT {k})
    ),
    c0 AS (
        SELECT sub.s, seed.code, sub.sub AS c
        FROM seed JOIN sub USING ({id_col})
    )"""
    ]
    for it in range(n_iter):
        prev = f"c{it}"
        parts.append(
            f"""a{it} AS (
        SELECT {id_col}, s, sub, code FROM (
            SELECT sub.{id_col}, sub.s, sub.sub, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY sub.{id_col}, sub.s
                       ORDER BY {dist}, c.code
                   ) AS r
            FROM sub JOIN {prev} c ON c.s = sub.s
        ) WHERE r = 1
    )"""
        )
        parts.append(
            f"""s{it} AS (
        SELECT s, code, CAST(i AS INTEGER) AS dim,
               CAST(SUM(CAST(floor(sub[CAST(i AS INTEGER)] * {MEAN_UNITS} + 0.5)
                             AS BIGINT)) AS BIGINT) AS su,
               COUNT(*) AS n
        FROM a{it}, unnest(range(1, len(sub) + 1)) AS t2(i)
        GROUP BY 1, 2, 3
    )"""
        )
        parts.append(
            f"""m{it} AS (
        SELECT s, code, list(CAST(su AS DOUBLE) / {MEAN_UNITS} / n ORDER BY dim) AS c
        FROM s{it} GROUP BY s, code
    )"""
        )
        parts.append(
            f"""c{it + 1} AS (
        SELECT p.s, p.code, COALESCE(m.c, p.c) AS c
        FROM {prev} p LEFT JOIN m{it} m ON m.s = p.s AND m.code = p.code
    )"""
        )
    final = f"c{n_iter}"
    parts.append(
        f"""codes AS (
        SELECT {id_col}, s, code FROM (
            SELECT sub.{id_col}, sub.s, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY sub.{id_col}, sub.s
                       ORDER BY {dist}, c.code
                   ) AS r
            FROM sub JOIN {final} c ON c.s = sub.s
        ) WHERE r = 1
    )"""
    )
    return parts


_RANKED_ADC_SELECT = """
    SELECT query_id, neighbor_id, rank, adc_units FROM (
        SELECT query_id, neighbor_id, adc_units,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_units, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= {top_k}
    """


def pq_topk_sql(
    table: str = "embeddings",
    *,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    subdim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    id_cap: int | None = None,
    top_k: int = 10,
) -> str:
    """DuckDB twin of pq_model + adc_topk: grouped-kmeans training
    unrolled as one CTE chain (the subspace id rides every key), then
    the same integer-unit ADC."""
    cap_sql = f" AND sub.{id_col} < {id_cap}" if id_cap is not None else ""
    dist = _sq_dist_sql("sub.sub", "c.c")
    final = f"c{n_iter}"
    parts = [
        f"v AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS vv FROM {table})",
        _sub_cte_sql("v", id_col, m, subdim),
        *_pq_train_ctes(id_col, k, n_iter),
        f"""lut AS (
        SELECT sub.{id_col} AS query_id, sub.s, c.code,
               CAST(floor({dist} * {ADC_UNITS} + 0.5) AS BIGINT) AS du
        FROM sub JOIN {final} c ON c.s = sub.s
        WHERE sub.{id_col} % {query_mod} = 0{cap_sql}
    )""",
        f"""adc AS (
        SELECT l.query_id, cd.{id_col} AS neighbor_id,
               CAST(SUM(l.du) AS BIGINT) AS adc_units
        FROM codes cd JOIN lut l ON l.s = cd.s AND l.code = cd.code
        WHERE cd.{id_col} != l.query_id
        GROUP BY 1, 2
    )""",
    ]
    chain = ",\n    ".join(parts)
    return "\n    WITH " + chain + _RANKED_ADC_SELECT.format(top_k=top_k)


# --------------------------------------------------------------------------
# IVF-PQ: coarse routing + residual product quantization
# --------------------------------------------------------------------------

def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    top_k: int = 10,
    n_probe: int = 3,
    centroid_mod: int = 17,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_cells: int = IVF_N_CELLS,
) -> DataFrame:
    """IVF-PQ (Jegou et al. TPAMI'11 §V; the FAISS ``IVFx,PQy`` index):
    route every vector to its best coarse cell (operators/similarity.py's
    IVF conventions — deterministic ``id % centroid_mod == 1`` centroid
    subset, cosine routing, (score, cell) tie-break), then
    product-quantize the RESIDUAL ``x - centroid(cell)`` — residuals are
    centered, so the same codebook budget quantizes them far better than
    raw vectors.

    Query path: each query probes its ``n_probe`` best cells and builds a
    per-(query, cell) integer-unit LUT array against the residual
    codebooks; candidates come from a broadcast equi-join on ``cell`` —
    only probed cells' packed codes are touched, a neighbor matches
    through exactly one cell, and its full ADC distance is the row-local
    M-term BIGINT fold over its code array. Everything stays bit-exact
    for the same reasons as :func:`adc_topk`.

    At 100 TB: codes partition BY CELL (the build_ivf_index layout), so
    probing is a partition-pruned scan of 4-byte codes — the billion-
    vector memory tier."""
    cent_rows, codebook, codes = ivfpq_model(
        corpus,
        centroid_mod=centroid_mod,
        m=m,
        k=k,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
    )
    return ivfpq_serve(
        cent_rows,
        codebook,
        codes,
        queries,
        top_k=top_k,
        n_probe=n_probe,
        m=m,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
    )


def _best_cells(cent_rows, side: DataFrame, sid: str, n: int) -> DataFrame:
    """Route one side against the driver-resident centroid list: n best
    cells per row by (cosine desc, cent_id), residual attached.

    Row-local (r11, guide §2.4): the centroids are a model-sized driver
    list, so per-row scoring + top-n is ``sort_array(..., asc=False)``
    over a literal (cosine, -cent_id, centroid) struct array sliced to n
    and exploded — no broadcast join, no window Exchange + sort.
    Descending lexicographic struct order on (cosine, -cent_id) IS the
    former window's (cosine DESC, cent_id ASC) tie-break; -cent_id is
    exact long arithmetic, and cent_id is unique so the centroid payload
    field never participates in a comparison."""
    import math

    # The centroid table rides in as ONE attached model array (see
    # clustering.attach_model — per-candidate literal trees cost seconds
    # of plan construction); centroid norms are driver-precomputed with
    # the same sequential fold (seq_dot) and the row's norm is factored
    # into a column evaluated once, so each candidate costs exactly one
    # dot fold and the composed cosine is the same doubles in the same
    # order as cosine(v, cent): dot / (sqrt(dot(v,v)) * sqrt(dot(c,c))).
    cand = F.transform(
        F.col("__cents"),
        lambda e: F.struct(
            (dot(F.col("__v"), e["c"]) / (F.col("__nv") * e["n"])).alias(
                "__cos"
            ),
            e["negid"].alias("__negid"),
            e["c"].alias("__cent"),
        ),
    )
    best = F.slice(F.sort_array(cand, asc=False), 1, n)
    return (
        attach_model(
            side,
            "__cents",
            [
                (-int(cid), [float(x) for x in v], math.sqrt(seq_dot(v)))
                for cid, v in cent_rows
            ],
            "array<struct<negid:bigint,c:array<double>,n:double>>",
        )
        .withColumn("__nv", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .select(sid, "__v", F.explode(best).alias("__b"))
        .select(
            sid,
            (-F.col("__b.__negid")).alias("cell"),
            F.zip_with(
                "__v", F.col("__b.__cent"), lambda x, c: x - c
            ).alias("__res"),
        )
    )


def ivfpq_model(
    corpus: DataFrame,
    *,
    centroid_mod: int = 17,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_N_CELLS,
    path: str | None = None,
):
    """The BUILD half of IVF-PQ (FAISS ``train`` + ``add``): coarse
    centroids, residual PQ codebooks, and the encoded corpus. Returns
    ``(cent_rows, codebook_rows, codes)`` — the first two are
    model-sized driver lists (what a production job persists next to
    the cell-partitioned codes), ``codes`` a cached ``(id, cell,
    codes array<int>)`` DataFrame (one packed row per vector; r12).
    ``ivfpq_serve`` answers queries against this model without ever
    touching the float corpus again.

    With ``path``, the whole index persists to disk — ``centroids/``
    and ``codebook/`` parquet (model-sized) plus ``codes/`` hive-
    PARTITIONED BY CELL (at 100 TB a probe is then a partition-pruned
    scan of 4-byte codes); ``load_ivfpq_model(spark, path)`` reloads
    the triple for serving in a later session."""
    from kafka_streams_the_clojure_way_spark.sources.files import with_min_parallelism

    vd = F.col(vec_col).cast("array<double>")
    # collect the model-sized centroid subset ONCE; build and serve both
    # broadcast a frame rebuilt from these exact doubles (bit-exact
    # round trip), so routed cells cannot differ between the halves
    cent_rows = [
        (r["__cent_id"], list(r["__cent"]))
        for r in corpus.filter(F.col(id_col) % centroid_mod == 1)
        .orderBy(id_col)
        .limit(n_cells)
        .select(F.col(id_col).alias("__cent_id"), vd.alias("__cent"))
        .collect()
    ]
    # checkpoint the routed residuals: the frame feeds the PQ trainer
    # (dim probe + seed + per-iteration scans), the encode pass, AND the
    # cell map — without truncation the 118-centroid routing expression
    # recomputes ~4x (measured ~25% of query wall-clock)
    corpus_res = _best_cells(
        cent_rows,
        with_min_parallelism(corpus).select(F.col(id_col), vd.alias("__v")),
        id_col,
        1,
    ).localCheckpoint(eager=True)
    codebook, codes = pq_model(
        corpus_res,
        m=m,
        k=k,
        n_iter=n_iter,
        id_col=id_col,
        vec_col="__res",
        extra_cols=("cell",),
    )
    codes = codes.cache()
    if path:
        spark = corpus.sparkSession
        spark.createDataFrame(
            cent_rows, "cent_id long, cent_vec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        spark.createDataFrame(
            codebook, "s int, code int, c array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
        from kafka_streams_the_clojure_way_spark.sources.files import (
            write_partitioned,
        )

        write_partitioned(codes, f"{path}/codes", "cell")
    return cent_rows, codebook, codes


def load_ivfpq_model(spark, path: str):
    """Reload a persisted IVF-PQ index for ``ivfpq_serve``: model-sized
    centroid/codebook collects + the cell-partitioned codes scan (lazy —
    probes prune it by cell)."""
    cent_rows = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in read_static_schema(spark, f"{path}/centroids")
        .orderBy("cent_id")
        .collect()
    ]
    codebook = [
        (r["s"], r["code"], list(r["c"]))
        for r in read_static_schema(spark, f"{path}/codebook")
        .orderBy("s", "code")
        .collect()
    ]
    codes = read_static_schema(spark, f"{path}/codes")
    if "codes" not in codes.columns:
        # pre-packed layout: one (id, s, code) row per subspace
        raise ValueError(
            f"IVF-PQ index at {path} has the old per-subspace codes layout "
            f"(columns {codes.columns}); rebuild it with ivfpq_model"
        )
    return cent_rows, codebook, codes


def ivfpq_serve(
    cent_rows,
    codebook,
    codes: DataFrame,
    queries: DataFrame,
    *,
    top_k: int = 10,
    n_probe: int = 3,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """The SERVE half of IVF-PQ: route queries against the (rebuilt,
    broadcast) centroid table, per-(query, cell) residual LUTs, ADC over
    the probed cells' codes. Collected centroid doubles round-trip
    bit-exactly through createDataFrame, so serve == the monolithic
    ivfpq_topk row for row."""
    vd = F.col(vec_col).cast("array<double>")
    probe_res = _best_cells(
        cent_rows,
        queries.select(F.col(id_col).alias(query_id), vd.alias("__v")),
        query_id,
        n_probe,
    )
    subdim = len(codebook[0][2])
    k = 1 + max(c for _, c, _ in codebook)
    lut = _adc_lut_arr(
        probe_res,
        codebook,
        m=m,
        subdim=subdim,
        query_id=query_id,
        vec_col="__res",
        extra=("cell",),
    )
    return _adc_rank(
        codes,
        lut,
        ["cell"],
        m=m,
        k=k,
        top_k=top_k,
        id_col=id_col,
        query_id=query_id,
    )


def ivfpq_topk_sql(
    table: str = "embeddings",
    *,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    subdim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    id_cap: int | None = None,
    top_k: int = 10,
    n_probe: int = 3,
    centroid_mod: int = 17,
    n_cells: int = IVF_N_CELLS,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk` — IVF routing CTEs (the
    ivf_topk_sql conventions) feeding the shared PQ training chain over
    residuals, then the per-(query, cell) LUT ADC."""
    from kafka_streams_the_clojure_way_spark.operators.similarity import cosine_sql

    cap_sql = f" AND s.{id_col} < {id_cap}" if id_cap is not None else ""
    cos_cent = cosine_sql("s.vv", "c.cv")
    dist = _sq_dist_sql("sub.sub", "c.c")
    final = f"c{n_iter}"
    residual = (
        "list_transform(list_zip(vv, cent_vec), p -> p[1] - p[2])"
    )
    parts = [
        f"allv AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS vv FROM {table})",
        f"""cents AS (
        SELECT {id_col} AS cent_id, vv AS cv FROM allv
        WHERE {id_col} % {centroid_mod} = 1 ORDER BY {id_col} LIMIT {n_cells}
    )""",
        f"""corpus_scored AS (
        SELECT s.{id_col}, s.vv, c.cent_id, c.cv AS cent_vec,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS crank
        FROM allv s, cents c
    )""",
        f"""res AS (
        SELECT {id_col}, cent_id AS cell, {residual} AS vv
        FROM corpus_scored WHERE crank = 1
    )""",
        _sub_cte_sql("res", id_col, m, subdim),
        *_pq_train_ctes(id_col, k, n_iter),
        f"""query_scored AS (
        SELECT s.{id_col} AS query_id, s.vv, c.cent_id, c.cv AS cent_vec,
               ROW_NUMBER() OVER (PARTITION BY s.{id_col}
                                  ORDER BY {cos_cent} DESC, c.cent_id) AS crank
        FROM allv s, cents c
        WHERE s.{id_col} % {query_mod} = 0{cap_sql}
    )""",
        f"""qres AS (
        SELECT query_id, cent_id AS cell, {residual} AS vv
        FROM query_scored WHERE crank <= {n_probe}
    )""",
        f"""qsub AS (
        SELECT query_id, cell, CAST(t.s AS INTEGER) AS s,
               vv[(CAST(t.s AS INTEGER) * {subdim} + 1):((CAST(t.s AS INTEGER) + 1) * {subdim})] AS sub
        FROM qres, UNNEST(range(0, {m})) AS t(s)
    )""",
        f"""lut AS (
        SELECT sub.query_id, sub.cell, sub.s, c.code,
               CAST(floor({dist} * {ADC_UNITS} + 0.5) AS BIGINT) AS du
        FROM qsub sub JOIN {final} c ON c.s = sub.s
    )""",
        f"""cellcodes AS (
        SELECT codes.{id_col}, res.cell, codes.s, codes.code
        FROM codes JOIN res ON res.{id_col} = codes.{id_col}
    )""",
        f"""adc AS (
        SELECT l.query_id, cd.{id_col} AS neighbor_id,
               CAST(SUM(l.du) AS BIGINT) AS adc_units
        FROM cellcodes cd
        JOIN lut l ON l.cell = cd.cell AND l.s = cd.s AND l.code = cd.code
        WHERE cd.{id_col} != l.query_id
        GROUP BY 1, 2
    )""",
    ]
    chain = ",\n    ".join(parts)
    return "\n    WITH " + chain + _RANKED_ADC_SELECT.format(top_k=top_k)
