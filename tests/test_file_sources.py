"""CSV / JSON source round-trips (SURVEY.md §2.2 "File-format scans"):
write -> read with explicit schema must be lossless for the types the
engine uses; schema inference is exercised but documented as dev-only."""

from __future__ import annotations

from kafka_streams_the_clojure_way_spark.sources.files import (
    read_csv,
    read_json,
    write_table,
)

ROWS = [
    (1, "alice", 10.5, "2024-01-01"),
    (2, "bob", -3.25, "2024-06-30"),
    (3, "carol", 0.0, "2025-12-31"),
]
SCHEMA = "id long, name string, score double, day string"


def _frame(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _collected(df):
    return sorted(tuple(r) for r in df.select("id", "name", "score", "day").collect())


def test_csv_round_trip(spark, tmp_path):
    path = str(tmp_path / "t_csv")
    write_table(_frame(spark), path, "csv")
    back = read_csv(spark, path, schema=SCHEMA)
    assert _collected(back) == sorted(ROWS)
    assert dict(back.dtypes)["score"] == "double"


def test_csv_inference_is_best_effort(spark, tmp_path):
    path = str(tmp_path / "t_csv2")
    write_table(_frame(spark), path, "csv")
    inferred = read_csv(spark, path)  # no schema: extra pass, dev-only
    assert inferred.count() == 3


def test_json_round_trip(spark, tmp_path):
    path = str(tmp_path / "t_json")
    write_table(_frame(spark), path, "json")
    back = read_json(spark, path, schema=SCHEMA)
    assert _collected(back) == sorted(ROWS)


def test_schema_evolution_merge_across_partitions(spark, tmp_path):
    """Schema drift across a partitioned dataset's lifetime: old files
    lack a column added later. mergeSchema=true reconciles at read time
    (missing column = NULL in old slices) — the survival requirement for
    any multi-year 100 TB corpus where backfills and new fields coexist."""
    from pyspark.sql import functions as F

    old = spark.createDataFrame([(1, 10.0)], "id long, value double")
    new = spark.createDataFrame(
        [(2, 20.0, "en")], "id long, value double, lang string"
    )
    old.write.parquet(str(tmp_path / "ds" / "day=1"))
    new.write.parquet(str(tmp_path / "ds" / "day=2"))

    merged = spark.read.option("mergeSchema", True).parquet(str(tmp_path / "ds"))
    assert set(merged.columns) == {"id", "value", "lang", "day"}
    rows = {r.id: (r.lang, r.day) for r in merged.collect()}
    assert rows == {1: (None, 1), 2: ("en", 2)}

    # the new column is still prunable/pushable on the merged scan
    got = merged.filter(F.col("lang") == "en").select("id").collect()
    assert [r.id for r in got] == [2]


def test_compact_files_reduces_file_count_preserving_rows(spark, tmp_path):
    from kafka_streams_the_clojure_way_spark.sources.files import (
        compact_files,
        load_table,
    )

    path = str(tmp_path / "many_small")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.repartition(40).write.parquet(path)  # simulate micro-batch litter
    import glob

    before = len(glob.glob(f"{path}/part-*.parquet"))
    assert before >= 30

    dest = str(tmp_path / "compacted")
    n = compact_files(spark, path, dest=dest, target_file_mb=128)
    after = len(glob.glob(f"{dest}/part-*.parquet"))
    assert after == n < before
    assert spark.read.parquet(dest).count() == orders.count()
    # the source is never touched: its readers keep their snapshot
    assert len(glob.glob(f"{path}/part-*.parquet")) == before


def test_upsert_table_latest_per_key_and_tombstones(spark, tmp_path):
    """Durable KTable semantics: latest-by-seq per key wins across the
    existing dataset and the update batch; tombstones drop keys; out-of-
    order (stale) updates lose; a failed swap can't corrupt the dataset
    (covered by _swap_dataset's rename-aside, exercised here end-to-end)."""
    from kafka_streams_the_clojure_way_spark.sources.files import upsert_table

    path = str(tmp_path / "ktable")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k int, v string, seq int"
    )
    upsert_table(spark, path, base, ["k"], "seq")  # initial build
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b", 10), 3: ("c", 10)}

    updates = spark.createDataFrame(
        [
            (2, "b2", 20, False),   # overwrite
            (3, "stale", 5, False), # stale seq: must lose
            (4, "d", 20, False),    # new key
            (1, None, 20, True),    # tombstone: drop key 1
        ],
        "k int, v string, seq int, dead boolean",
    )
    upsert_table(spark, path, updates, ["k"], "seq", delete_col="dead")
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(path).collect()}
    assert got == {2: ("b2", 20), 3: ("c", 10), 4: ("d", 20)}
    assert "dead" not in spark.read.parquet(path).columns

    # a resurrecting update after a tombstone wins by seq
    upsert_table(
        spark, path,
        spark.createDataFrame([(1, "back", 30)], "k int, v string, seq int"),
        ["k"], "seq",
    )
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "back", 2: "b2", 3: "c", 4: "d"}


def test_orc_round_trip(spark, tmp_path):
    """ORC is the other columnar format Spark ships a native vectorized
    reader for — write_table/spark.read handle it with the same code
    path as parquet (format string only)."""
    path = str(tmp_path / "t_orc")
    write_table(_frame(spark), path, "orc")
    back = spark.read.format("orc").load(path)
    assert _collected(back) == sorted(ROWS)
    assert dict(back.dtypes)["score"] == "double"
