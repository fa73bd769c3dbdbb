"""Statistical aggregates, pivot, and explode-based queries — finishing
the scalar/aggregate categories of SURVEY.md §2.2.

Cross-engine notes (measured, not assumed):
- Spark ``percentile`` (exact, interpolating) == DuckDB ``quantile_cont``
  bit-for-bit; at 100 TB swap for ``approx_percentile`` (t-digest-style
  sketch, no global sort).
- ``stddev_samp``/``var_samp`` match bit-exact at our partition counts but
  merge-order can wiggle last ULPs, and ``corr`` measurably differs at
  1e-14 — so second-moment outputs are rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.functions.portable import kernel
from kafka_streams_the_clojure_way_spark.operators.dedup import shingle_hashes, shingle_hashes_sql
from kafka_streams_the_clojure_way_spark.queries.registry import query
from kafka_streams_the_clojure_way_spark.sources.files import load_table, with_min_parallelism


@query(
    "agg_percentiles_prices",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.90) AS p90,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. Exact percentile sorts
    within each group — fine for bounded groups; unbounded 100 TB groups
    take approx_percentile instead (sketch merge, no sort)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
        F.expr("percentile(o_totalprice, 0.50)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.90)").alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_moment_stats",
    oracle="""
    SELECT c_mktsegment,
           round(stddev_samp(c_acctbal), 6) AS acctbal_sd,
           round(var_samp(c_acctbal) / 1000000, 6) AS acctbal_var_m,
           round(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6) AS bal_key_corr,
           round(avg(c_acctbal), 6) AS acctbal_mean
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/variance/correlation), rounded to
    absorb merge-order ULP drift. Moments merge associatively — one
    partial-agg shuffle like any sum."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 6).alias("acctbal_sd"),
        F.round(F.var_samp("c_acctbal") / 1_000_000, 6).alias("acctbal_var_m"),
        F.round(F.corr("c_acctbal", F.col("c_custkey").cast("double")), 6).alias(
            "bal_key_corr"
        ),
        F.round(F.avg("c_acctbal"), 6).alias("acctbal_mean"),
    )


@query(
    "agg_pivot_event_counts",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    """,
)
def agg_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long -> wide): event-type counts per user bucket. The value
    list is pinned so Spark skips the extra distinct-values job — at
    scale an unpinned pivot is two passes, pinned is one."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    out = (
        ev.groupBy("user_bucket")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (bucket, type) pair has no rows; counts are 0
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


@query(
    "agg_unpivot_segment_metrics",
    oracle="""
    WITH wide AS (
        SELECT c_mktsegment,
               round(avg(c_acctbal), 6) AS avg_bal,
               round(max(c_acctbal), 6) AS max_bal,
               CAST(COUNT(*) AS DOUBLE) AS n_cust
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, 'avg_bal' AS metric, avg_bal AS value FROM wide
    UNION ALL
    SELECT c_mktsegment, 'max_bal' AS metric, max_bal AS value FROM wide
    UNION ALL
    SELECT c_mktsegment, 'n_cust' AS metric, n_cust AS value FROM wide
    """,
)
def agg_unpivot_segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long), the inverse of the pivot query: per-segment
    metrics melted to (segment, metric, value). Narrow per-row expansion
    after the aggregate — the only shuffle is the groupBy itself."""
    c = load_table(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 6).alias("max_bal"),
        F.count(F.lit(1)).cast("double").alias("n_cust"),
    )
    return wide.unpivot(
        ["c_mktsegment"], ["avg_bal", "max_bal", "n_cust"], "metric", "value"
    )


@query(
    "text_top_shingles",
    oracle=f"""
    SELECT s AS shingle_hash, COUNT(*) AS n_docs
    FROM (SELECT doc_id, unnest({shingle_hashes_sql("text")}) AS s FROM documents)
    GROUP BY s
    ORDER BY n_docs DESC, s
    LIMIT 20
    """,
)
def text_top_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode (lateral view) + aggregate + top-k: the 20 most widespread
    shingles — the 'boilerplate detector' of a dedup pipeline (exactly the
    skewed keys that LSH banding must survive)."""
    docs = with_min_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(F.explode(kernel(shingle_hashes, "text")).alias("shingle_hash"))
    return (
        sh.groupBy("shingle_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("shingle_hash"))
        .limit(20)
    )


@query(
    "agg_hll_sketch_union",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS union_within_bound
    FROM events
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg /
    hll_union_agg): per-event-type user sketches, then a UNION of the
    sketches re-estimated as the global distinct count. THIS — not a
    one-shot approx_count_distinct — is the 100 TB pattern: sketches are
    stored per partition/day as binary columns, and any rollup
    (day→month, type→all) is a cheap sketch union instead of a rescan of
    the raw corpus. The sketch binaries are engine-specific, so the
    hashable output is the BOUND VERDICT: the unioned estimate must sit
    within 4 sigma of the exact distinct count (lgK=14 -> rse ~0.81%,
    Lang/Flajolet envelope), which the oracle asserts as a constant-true
    column over the same exact counts — a deterministic pass/fail the
    value hash can catch, instead of a rows-only row. The sharper
    per-sigma envelope stays pytest-gated (tests/test_approx.py)."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    unioned = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("est"),
        F.sum("n_events").alias("n_events"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    return unioned.crossJoin(exact).select(
        "n_events",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 4 * 0.0081 * F.col("exact_users") + F.lit(2)
        ).alias("union_within_bound"),
    )


_PCTL_QS = (0.25, 0.5, 0.95)
_PCTL_ACCURACY = 1000


@query(
    "agg_approx_percentile_totalprice",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           true AS p25_ok, true AS p50_ok, true AS p95_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch (Greenwald-Khanna via percentile_approx,
    accuracy=1000 -> rank error <= n/1000): p25/p50/p95 order totals per
    priority. The sketch is single-pass and MERGEABLE — partial sketches
    combine map-side, so the 100 TB plan is one shuffle of O(accuracy)
    summaries per group instead of the per-group sort an exact percentile
    needs. GK summaries are engine-specific, so the hashable output is
    the RANK-ERROR VERDICT: each sketch value's true rank window
    (count(< v), count(<= v)] in its group must overlap the target rank
    q*n within the documented n/accuracy slack — computed in-query by
    joining the 5-row sketch output back to orders (broadcast), so the
    oracle is a constant-true column over the same group counts. The
    tighter exact-percentile envelope stays pytest-gated
    (tests/test_approx.py)."""
    o = load_table(spark, sf_dir, "orders")
    appx = o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", list(_PCTL_QS), _PCTL_ACCURACY
        ).alias("qs"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = o.select("o_orderpriority", "o_totalprice").join(
        F.broadcast(appx), "o_orderpriority"
    )
    rank_aggs = [F.first("n_orders").alias("n_orders")]
    for i in range(len(_PCTL_QS)):
        rank_aggs.append(
            F.sum(
                (F.col("o_totalprice") < F.col("qs")[i]).cast("long")
            ).alias(f"lt{i}")
        )
        rank_aggs.append(
            F.sum(
                (F.col("o_totalprice") <= F.col("qs")[i]).cast("long")
            ).alias(f"le{i}")
        )
    ranked = joined.groupBy("o_orderpriority").agg(*rank_aggs)
    cols = [F.col("o_orderpriority"), F.col("n_orders")]
    for i, (q, label) in enumerate(zip(_PCTL_QS, ("p25_ok", "p50_ok", "p95_ok"))):
        target = F.lit(q) * F.col("n_orders")
        slack = F.col("n_orders") / _PCTL_ACCURACY + F.lit(1.0)
        cols.append(
            (
                (F.col(f"le{i}") >= target - slack)
                & (F.col(f"lt{i}") <= target + slack)
            ).alias(label)
        )
    return ranked.select(*cols)


@query(
    "agg_linear_trend",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS DECIMAL(38,6)) AS x,
               CAST(CAST(value AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS y
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DECIMAL(38,6)) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           round(CAST((n * sxy - sx * sy) AS DOUBLE)
                 / CAST((n * sxx - sx * sx) AS DOUBLE), 9) AS slope_per_hour
    FROM s
    """,
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend (value vs. epoch-hour) per event type, via the
    closed-form slope over EXACT decimal sums — the built-in regr_slope
    accumulates doubles and is summation-order-dependent, so a
    distributed run and a single-threaded oracle disagree in the last
    ulps; decimal Sx/Sy/Sxy/Sxx make every intermediate exact and only
    the final division floats. One partial+final aggregate, no shuffle
    of raw points beyond the 5-per-group sums."""
    ev = load_table(spark, sf_dir, "events")
    x = F.expr("unix_micros(ts) div 3600000000").cast("decimal(38,6)")
    y = F.col("value").cast("decimal(28,6)").cast("decimal(38,6)")
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,6)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_points"),
        F.round(num / den, 9).alias("slope_per_hour"),
    )


@query(
    "agg_mad_outlier_flags",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(MAX(d.med), 6) AS med_r,
           round(MAX(m.mad), 6) AS mad_r,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def agg_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median + MAD (median absolute
    deviation) per event type, counting events beyond 3 MAD units — the
    estimator that, unlike mean/stddev, does not let the outliers it is
    hunting move the threshold (50% breakdown point). Two grouped exact
    percentiles with the tiny per-group stats broadcast back between
    passes; at 100 TB swap percentile for approx_percentile and the
    shape is unchanged. Exact interpolated percentile is bit-identical
    to DuckDB quantile_cont (module header note), so even the boundary
    comparisons agree."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("med"), 6).alias("med_r"),
            F.round(F.max("mad"), 6).alias("mad_r"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )
