"""Persisted exact-hash index (build/serve split for incremental EXACT
dedup — the first gate of a production ingestion loop): the corpus's
60-bit content hashes are bucketed to disk ONCE; arriving batches hash
only themselves and bucket-route the scan. Gates mirror the MinHash
index suite: inline-operator parity, partition-pruned probe scan,
upsert==rebuild + idempotence, file-layout hygiene, compaction parity,
tombstone delete -> compact -> re-add, and the foreachBatch serve loop.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    build_hash_index,
    compact_hash_index,
    exact_pairs_between,
    hash_index_delete,
    hash_index_probe,
    hash_index_probe_stream,
    hash_index_upsert,
)
from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.sources.files import load_table
from kafka_streams_the_clojure_way_spark.sources.memory import drain

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "a corpus document that only ever appears once"),
    (4, "the quick brown fox jumps over the lazy dog"),  # natural dup of 1
]
ARRIVING = [
    (101, "the quick brown fox jumps over the lazy dog"),  # matches 1 AND 4
    (102, "pack my box with five dozen liquor jugs"),      # matches 2
    (103, "fresh arriving text that matches nothing at all"),
]


def _rows(df):
    return sorted((r.probe_id, r.corpus_id, r.content_hash) for r in df.collect())


def _files_per_leaf_dir(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def test_indexed_probe_matches_inline_operator(spark, tmp_path):
    """The index is a serve path, not new semantics: probe rows must
    equal exact_pairs_between on the same frames — including the
    one-probe-to-many-corpus fanout from a natural corpus dup."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    path = str(tmp_path / "idx")
    build_hash_index(corpus, path)
    expected = _rows(exact_pairs_between(batch, corpus))
    got = _rows(hash_index_probe(spark, path, batch))
    assert got == expected
    assert {(p, c) for p, c, _ in expected} == {
        (101, 1), (101, 4), (102, 2)
    }


def test_real_corpus_recrawl_fixture(spark, tmp_path):
    """The registered query's shape on real testdata: every 10th doc
    re-arrives byte-identical under a shifted id; each must match
    exactly its original (the sf corpus has no natural exact dups)."""
    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "idx")
    build_hash_index(docs, path)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    got = _rows(hash_index_probe(spark, path, batch))
    assert got and all(p == c + 1_000_000 for p, c, _ in got)
    n_probe = batch.count()
    assert len(got) == n_probe


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """Serve-path contract: the hashes scan must carry a literal static
    PartitionFilter over the batch's distinct buckets — a bounded
    IN-list, so at 100 TB a probe reads the probed bucket directories,
    never the whole index."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING[:1], SCHEMA)
    path = str(tmp_path / "idx")
    build_hash_index(corpus, path)
    probe = hash_index_probe(spark, path, batch)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    routed = [p for p in pfs if re.search(r"bucket#\d+ IN|bucket#\d+ = ", p)]
    assert routed, plan[:3000]


def test_upsert_matches_full_rebuild_and_is_idempotent(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    part_a = docs.filter(F.col("doc_id") % 3 != 0)
    part_b = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )

    inc_path = str(tmp_path / "inc")
    build_hash_index(part_a, inc_path)
    hash_index_upsert(spark, inc_path, part_b)

    full_path = str(tmp_path / "full")
    build_hash_index(docs, full_path)

    got = _rows(hash_index_probe(spark, inc_path, batch))
    want = _rows(hash_index_probe(spark, full_path, batch))
    assert got == want and want

    # the whole corpus is already indexed -> re-upsert anti-joins away
    hash_index_upsert(spark, inc_path, docs)
    assert _rows(hash_index_probe(spark, inc_path, batch)) == want


def test_upsert_layout_and_compaction(spark, tmp_path):
    """At most one new file per touched bucket directory per upsert;
    compaction restores one file per directory with probe parity."""
    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    path = str(tmp_path / "idx")
    build_hash_index(docs.filter(F.col("doc_id") % 3 == 1), path)
    before = _files_per_leaf_dir(f"{index_dataset_root(path)}/hashes")
    assert before and all(n == 1 for n in before.values()), "build layout broken"

    for m in (2, 0):
        hash_index_upsert(
            spark, path, docs.filter(F.col("doc_id") % 3 == m), assume_new_ids=True
        )
    after = _files_per_leaf_dir(f"{index_dataset_root(path)}/hashes")
    grown = {d: after[d] - before.get(d, 0) for d in after}
    assert all(g <= 2 for g in grown.values()), {d: g for d, g in grown.items() if g > 2}
    assert any(n > 1 for n in after.values()), "fixture never re-touched a dir"

    probe_before = _rows(hash_index_probe(spark, path, batch))
    compact_hash_index(spark, path)
    compacted = _files_per_leaf_dir(f"{index_dataset_root(path)}/hashes")
    assert compacted and all(n == 1 for n in compacted.values()), compacted
    assert _rows(hash_index_probe(spark, path, batch)) == probe_before
    assert probe_before


def test_tombstone_delete_then_compact_then_readd(spark, tmp_path):
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    probe = spark.createDataFrame(ARRIVING, SCHEMA)
    path = str(tmp_path / "idx")
    build_hash_index(corpus, path)

    before = _rows(hash_index_probe(spark, path, probe))
    assert {c for _, c, _ in before} == {1, 2, 4}

    hash_index_delete(spark, path, [1])
    after_del = _rows(hash_index_probe(spark, path, probe))
    assert after_del == [r for r in before if r[1] != 1] and after_del

    compact_hash_index(spark, path)
    assert not os.path.exists(f"{index_dataset_root(path)}/tombstones")
    assert _rows(hash_index_probe(spark, path, probe)) == after_del
    live = {
        r.doc_id for r in spark.read.parquet(f"{index_dataset_root(path)}/hashes").select("doc_id").collect()
    }
    assert 1 not in live and {2, 3, 4} <= live

    hash_index_upsert(spark, path, corpus.filter(F.col("doc_id") == 1))
    assert _rows(hash_index_probe(spark, path, probe)) == before


def test_probe_stream_serve_prunes_and_upserts(spark, tmp_path):
    """foreachBatch serve loop: per-trigger bucket pruning holds, later
    batches dedup against earlier batches (upsert=True), and
    compact_every keeps the index at one file per directory."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "idx")
    build_hash_index(corpus, path)

    batches = [
        [ARRIVING[0]],                 # exact dup of corpus docs 1 and 4
        [(104, ARRIVING[0][1])],       # exact dup of corpus AND batch-1 doc
        [ARRIVING[2]],                 # matches nothing
    ]
    # batch-land replay: probe each batch against corpus + earlier batches
    expected, seen = [], list(CORPUS)
    for rows_ in batches:
        p = spark.createDataFrame(rows_, SCHEMA)
        c = spark.createDataFrame(seen, SCHEMA)
        expected += [
            (r.probe_id, r.corpus_id) for r in exact_pairs_between(p, c).collect()
        ]
        seen += rows_
    expected = sorted(expected)
    assert (104, 101) in expected, "fixture must produce a cross-batch pair"

    in_dir = tmp_path / "arriving"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )

    got, pruned, ticks = [], [], []

    def sink(pairs, batch_id):
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
        if any(re.search(r"bucket#\d+ IN|bucket#\d+ = ", p) for p in pfs):
            pruned.append(batch_id)
        ticks.append(batch_id)
        got.extend((r.probe_id, r.corpus_id) for r in pairs.collect())

    q = hash_index_probe_stream(
        spark, path, stream, sink,
        checkpoint=str(tmp_path / "ckpt"),
        upsert=True, assume_new_ids=True, compact_every=1,
    )
    drain(q)
    assert len(ticks) >= 2 and pruned == ticks, (pruned, ticks)
    assert sorted(got) == expected
    files = _files_per_leaf_dir(f"{index_dataset_root(path)}/hashes")
    assert files and all(n == 1 for n in files.values()), files


def test_streaming_gate_matches_batch(spark, tmp_path):
    """The stream-static fallback leg: probing with a streaming frame
    directly (no foreachBatch) must produce the batch probe's rows —
    correctness-identical, just pruning-free (documented)."""
    from kafka_streams_the_clojure_way_spark.sources.memory import start_memory_sink

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "idx")
    build_hash_index(corpus, path)
    expected = _rows(hash_index_probe(spark, path, spark.createDataFrame(ARRIVING, SCHEMA)))
    assert expected

    in_dir = tmp_path / "arriving"
    for i, row in enumerate(ARRIVING):
        spark.createDataFrame([row], SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    gated = hash_index_probe(spark, path, stream)
    assert gated.isStreaming
    q = start_memory_sink(gated, "exact_gate_stream")
    drain(q)
    assert _rows(spark.table("exact_gate_stream")) == expected
