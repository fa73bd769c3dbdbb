"""Partitioned Bloom-filter index (the negative-probe fast path of the
exact gate — fifth persisted-index family member): probe correctness is
a two-sided contract — ZERO false negatives (structural: probe tests the
same member-hash family build ORs in) and bounded false positives — and
the composed bloom->hash-index gate must be row-identical to the plain
hash-index probe. Gates mirror the hash-index suite: parity, pruned
probe scan, upsert==rebuild, layout hygiene + compaction parity.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    bloom_gated_exact_probe,
    bloom_index_probe,
    bloom_index_upsert,
    build_bloom_index,
    build_hash_index,
    compact_bloom_index,
    exact_pairs_between,
    hash_index_probe,
    index_dataset_root,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table

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


def _maybe_ids(df):
    return sorted(r.probe_id for r in df.collect())


def test_no_false_negatives_and_gated_parity(spark, tmp_path):
    """Every true exact-dup must survive the filter, and the composed
    bloom->confirm gate must be row-identical to the un-gated
    hash-index probe (false positives die in the confirm join)."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    bloom = str(tmp_path / "bloom")
    hidx = str(tmp_path / "hash")
    build_bloom_index(corpus, bloom)
    build_hash_index(corpus, hidx)
    maybe = set(_maybe_ids(bloom_index_probe(spark, bloom, batch)))
    assert {101, 102} <= maybe, "bloom dropped a true duplicate"
    expected = _rows(exact_pairs_between(batch, corpus))
    got = _rows(bloom_gated_exact_probe(spark, bloom, hidx, batch))
    assert got == expected == _rows(hash_index_probe(spark, hidx, batch))


def test_real_corpus_negative_batch_mostly_filtered(spark, tmp_path):
    """Steady-state contract on real testdata: an all-new batch (every
    doc's text mutated) must produce zero confirmed pairs, and the
    filter must rule most of it out WITHOUT touching the hash index —
    the false-positive rate at the build's bits/key stays far below 1
    (the fixture corpus is ~500 docs against 4032-bit segments, so FPR
    is well under 10%)."""
    docs = load_table(spark, SF, "documents")
    bloom = str(tmp_path / "bloom")
    hidx = str(tmp_path / "hash")
    build_bloom_index(docs, bloom)
    build_hash_index(docs, hidx)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" entirely-new-suffix")).alias("text"),
    )
    n_batch = batch.count()
    n_maybe = bloom_index_probe(spark, bloom, batch).count()
    assert n_maybe <= n_batch * 0.2, f"FPR too high: {n_maybe}/{n_batch}"
    assert bloom_gated_exact_probe(spark, bloom, hidx, batch).count() == 0


def test_recrawl_batch_fully_found(spark, tmp_path):
    """The registered query's shape: byte-identical re-arrivals under
    shifted ids must each match their original through the gate."""
    docs = load_table(spark, SF, "documents")
    bloom = str(tmp_path / "bloom")
    hidx = str(tmp_path / "hash")
    build_bloom_index(docs, bloom)
    build_hash_index(docs, hidx)
    batch = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    got = _rows(bloom_gated_exact_probe(spark, bloom, hidx, batch))
    assert got and all(p == c + 1_000_000 for p, c, _ in got)
    assert len(got) == batch.count()


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The bits scan must carry a literal static PartitionFilter over
    the batch's distinct segments — bounded by n_segments, so a probe
    reads the probed segment directories, never the whole filter."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING[:1], SCHEMA)
    path = str(tmp_path / "bloom")
    build_bloom_index(corpus, path)
    probe = bloom_index_probe(spark, path, batch)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    routed = [p for p in pfs if re.search(r"segment#\d+ IN|segment#\d+ = ", p)]
    assert routed, plan[:3000]


def test_upsert_matches_rebuild_and_compaction_is_invisible(spark, tmp_path):
    """Bit-OR is associative/commutative: build(A)+upsert(B) must probe
    identically to build(A+B); replaying the same upsert is a no-op;
    compaction folds appended rows without changing any answer and
    restores one file per segment directory."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    extra = spark.createDataFrame(
        [(5, "a brand new corpus document arriving later")], SCHEMA
    )
    batch = spark.createDataFrame(
        ARRIVING + [(104, "a brand new corpus document arriving later")], SCHEMA
    )
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_bloom_index(corpus, inc)
    bloom_index_upsert(spark, inc, extra)
    build_bloom_index(corpus.union(extra), full)
    got_inc = set(_maybe_ids(bloom_index_probe(spark, inc, batch)))
    got_full = set(_maybe_ids(bloom_index_probe(spark, full, batch)))
    assert got_inc == got_full and 104 in got_inc
    bloom_index_upsert(spark, inc, extra)  # replay: idempotent by OR
    assert set(_maybe_ids(bloom_index_probe(spark, inc, batch))) == got_full
    compact_bloom_index(spark, inc)
    assert set(_maybe_ids(bloom_index_probe(spark, inc, batch))) == got_full
    bits_root = os.path.join(index_dataset_root(inc), "bits")
    for dirpath, _, files in os.walk(bits_root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            assert n == 1, f"{dirpath} has {n} files after compaction"


def test_gated_probe_symmetric_on_nondefault_text_column(spark, tmp_path):
    """Both stages of the composed bloom->hash exact gate must hash the
    CALLER's text column: an index pair built over a column named
    'body' and probed with text='body' must behave exactly like the
    default-named pair — and a probe must never silently substitute the
    build-time column name for the caller's (the two stages would then
    hash different columns and the confirm join could drop true dups)."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("body", StringType())]
    )
    corpus = spark.createDataFrame([(i, t) for i, t in CORPUS], schema)
    batch = spark.createDataFrame([(i, t) for i, t in ARRIVING], schema)
    bloom = str(tmp_path / "bloom")
    hx = str(tmp_path / "hx")
    build_bloom_index(corpus, bloom, text="body")
    build_hash_index(corpus, hx, text="body")
    got = _rows(bloom_gated_exact_probe(spark, bloom, hx, batch, text="body"))
    want = _rows(exact_pairs_between(batch, corpus, text="body"))
    assert got == want and got  # non-empty: 101 and 102 have corpus dups


def test_meta_cache_key_is_path_normalized(spark, tmp_path):
    """A trailing-slash spelling of the same index path must hit the
    same cached meta row — and a rebuild must invalidate BOTH
    spellings (a stale meta row mis-routes probes silently)."""
    from kafka_streams_the_clojure_way_spark.operators import dedup as D

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "bloom")
    build_bloom_index(corpus, path)
    a = D._index_meta(spark, path)
    b = D._index_meta(spark, path + "/")
    assert a is b
    # rebuild with different geometry through the slash-variant path:
    # the plain-path probe must see the NEW meta.
    build_bloom_index(corpus, path + "/", n_segments=2)
    assert D._index_meta(spark, path)["n_segments"] == 2


def test_meta_cache_detects_out_of_process_rebuild(spark, tmp_path):
    """A rebuild that bypasses the in-process invalidation hook (e.g.
    another process) must still be picked up on local filesystems via
    the meta CONTENT token (part-file names embed task UUIDs, so the
    token changes even when the rewrite lands within the filesystem's
    timestamp granularity — no sleep needed, ADVICE r7)."""
    import os

    from kafka_streams_the_clojure_way_spark.operators import dedup as D

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "bloom")
    build_bloom_index(corpus, path)
    assert D._index_meta(spark, path)["n_segments"] == D.BLOOM_SEGMENTS
    # simulate an external rebuild: change geometry, then RESTORE the
    # cache entry as if this process never saw the rebuild.
    stale = D._INDEX_META_CACHE[os.path.normpath(path)]
    build_bloom_index(corpus, path, n_segments=2)
    D._INDEX_META_CACHE[os.path.normpath(path)] = stale
    assert D._index_meta(spark, path)["n_segments"] == 2
