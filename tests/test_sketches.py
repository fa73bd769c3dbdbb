"""Exact heavy hitters via the Misra-Gries two-pass (operators.sketches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import sketches as SK
from kafka_streams_the_clojure_way_spark.operators.text import tokens_col


def _toks_df(spark, texts):
    return spark.createDataFrame([{"text": t} for t in texts])


def test_heavy_hitters_match_exact_groupby(spark):
    # skewed corpus: 'hot' dominates, tail tokens are unique
    texts = [("hot " * 50 + f"warm warm cold{i}").strip() for i in range(20)]
    df = _toks_df(spark, texts)
    got = {
        (r.token, r.freq)
        for r in SK.exact_heavy_hitters(df, tokens_col(F.col("text")), k=8).collect()
    }
    tok = df.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    n = tok.count()
    thresh = -(-n // 8)  # ceil
    want = {
        (r.token, r.freq)
        for r in tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= thresh)
        .collect()
    }
    assert got == want and ("hot", 1000) in got


def test_heavy_hitters_partitioning_invariant(spark):
    texts = ["x x x y z"] * 30 + ["q w e r t"] * 5
    df = _toks_df(spark, texts)
    items = tokens_col(F.col("text"))
    base = {(r.token, r.freq) for r in SK.exact_heavy_hitters(df, items, k=4).collect()}
    repart = {
        (r.token, r.freq)
        for r in SK.exact_heavy_hitters(df.repartition(7), items, k=4).collect()
    }
    assert base == repart  # candidate sets may differ; exact answer may not


def test_heavy_hitters_null_text_skipped(spark):
    """NULL text rows yield NULL token arrays; the sketch pass must skip
    them (DuckDB's unnest(NULL) emits no rows — same semantics), not
    crash on iterating None."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("text", StringType(), True)])
    df = spark.createDataFrame(
        [("hot hot hot cold",), (None,), ("hot warm",)], schema
    )
    got = {
        (r.token, r.freq)
        for r in SK.exact_heavy_hitters(df, tokens_col(F.col("text")), k=3).collect()
    }
    # 6 non-null tokens, threshold ceil(6/3)=2 -> only 'hot' (4)
    assert got == {("hot", 4)}


def test_heavy_hitters_null_tokens_not_counted(spark):
    """Null elements inside a token array count neither as tokens nor in
    the total N. Counted in N, the 3 nulls would raise the threshold
    from ceil(3/2)=2 to ceil(6/2)=3 and drop 'a'. The DuckDB twin agrees."""
    import duckdb

    rows = [(["a", None, "a"],), ([None, "b", None],)]
    df = spark.createDataFrame(rows, "toks array<string>")
    got = {(r.token, r.freq) for r in SK.exact_heavy_hitters(df, F.col("toks"), k=2).collect()}
    assert got == {("a", 2)}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (['a', NULL, 'a']), ([NULL, 'b', NULL])) v(toks)"
    )
    assert set(con.sql(SK.exact_heavy_hitters_sql("t", "toks", k=2)).fetchall()) == got
