"""Persisted MinHash band index (build/serve split for incremental
dedup): the corpus is shingled/signed/banded ONCE into a hive-
partitioned postings table; arriving batches sign only themselves and
band-join the index. Gates: (1) the indexed probe is bit-equal to the
index-less minhash_lsh_pairs_between on the same rows, (2) the probe's
postings scan is partition-pruned by the batch's band/bucket keys
(dynamic pruning — the 100 TB contract), (3) the probe works as a
stream-static gate with batch parity, (4) mismatched parameters cannot
happen (probe reads them from the index meta)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    build_minhash_index,
    minhash_index_probe,
    minhash_lsh_pairs_between,
)
from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.sources.files import load_table
from kafka_streams_the_clojure_way_spark.sources.memory import drain, start_memory_sink

SF = "/root/testdata/sf0.001"

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "pack my box with five dozen liquor jugs before noon delivery runs"),
    (3, "completely unrelated corpus document about spark physical planning"),
]
ARRIVING = [
    (101, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (102, "pack my box with five dozen liquor jugs before noon delivery ends"),
    (103, "totally different arriving text concerning duckdb oracle checks"),
]


def _rows(df):
    return sorted((r.probe_id, r.corpus_id, r.jaccard) for r in df.collect())


def test_indexed_probe_matches_unindexed_on_testdata(spark, tmp_path):
    """Real-corpus parity: build the index over the sf0.001 corpus slice
    and probe with the batch slice — must equal the index-less operator
    row for row (same oracle, so this transitively pins the DuckDB twin)."""
    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path)
    expected = _rows(minhash_lsh_pairs_between(batch, corpus, threshold=0.8))
    got = _rows(minhash_index_probe(spark, path, batch, threshold=0.8))
    assert got == expected
    assert expected, "fixture slice must produce at least one pair"


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The serve-path contract: the postings scan must carry a STATIC
    PartitionFilter built from the batch's distinct (band, bucket) keys
    — at 100 TB this is scanning the probed band/bucket directories,
    not the whole index (explicit routing, not the DPP cost heuristic,
    so it holds deterministically at any size)."""
    import re

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING[:1], SCHEMA)
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path)
    probe = minhash_index_probe(spark, path, batch, threshold=0.5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    # r9: the routing predicate is ONE flat packed-key IN-list —
    # ((band * n_buckets) + bucket) IN (...) — instead of an OR-chain
    # (same pruning, ~2.6 s less Catalyst/py4j time per probe)
    routed = [p for p in pfs if re.search(r"band#\d+ \* ", p) and " IN (" in p]
    assert routed, plan[:3000]
    # one doc -> at most `bands` (band, bucket) pairs: the IN-list must
    # be bounded, not a full-index scan
    in_list = re.search(r" IN \(([^)]*)\)", routed[0]).group(1)
    assert len(in_list.split(",")) <= 4, routed[0]


def test_streaming_gate_matches_batch(spark, tmp_path):
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path)

    batch_probe = spark.createDataFrame(ARRIVING, SCHEMA)
    expected = _rows(minhash_index_probe(spark, path, batch_probe, threshold=0.5))
    assert expected and all(p > 100 > c for p, c, _ in expected)

    in_dir = tmp_path / "arriving"
    for i, row in enumerate(ARRIVING):
        spark.createDataFrame([row], SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    gated = minhash_index_probe(spark, path, stream, threshold=0.5)
    assert gated.isStreaming
    q = start_memory_sink(gated, "indexed_gate")
    drain(q)
    got = _rows(spark.table("indexed_gate"))
    assert got == expected


def test_probe_uses_index_meta_params(spark, tmp_path):
    """Build with a non-default banding knob: the probe must pick the
    parameters up from path/meta (not its own defaults) or no band key
    would ever match."""
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    path = str(tmp_path / "idx8x4")
    build_minhash_index(corpus, path, n_hashes=32, bands=8, n_buckets=4)
    got = _rows(minhash_index_probe(spark, path, batch, threshold=0.5))
    expected = _rows(
        minhash_lsh_pairs_between(batch, corpus, threshold=0.5, n_hashes=32, bands=8)
    )
    assert got == expected and expected


def test_upsert_matches_full_rebuild(spark, tmp_path):
    """Incremental index maintenance: building on corpus A then
    upserting batch B must answer probes identically to an index built
    on A ∪ B from scratch — and re-upserting the same batch must be a
    no-op (the add-only anti-join), not a double-count."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        minhash_index_upsert,
    )

    docs = load_table(spark, SF, "documents")
    part_a = docs.filter(F.col("doc_id") % 3 != 0)
    part_b = docs.filter(F.col("doc_id") % 3 == 0)
    probe = docs.filter(F.col("doc_id") % 10 == 0)

    inc_path = str(tmp_path / "inc")
    build_minhash_index(part_a, inc_path)
    minhash_index_upsert(spark, inc_path, part_b)

    full_path = str(tmp_path / "full")
    build_minhash_index(docs, full_path)

    got = _rows(minhash_index_probe(spark, inc_path, probe, threshold=0.8))
    want = _rows(minhash_index_probe(spark, full_path, probe, threshold=0.8))
    assert got == want and want

    # idempotence: the whole corpus is already indexed -> second upsert
    # must anti-join everything away
    minhash_index_upsert(spark, inc_path, docs)
    again = _rows(minhash_index_probe(spark, inc_path, probe, threshold=0.8))
    assert again == want


def test_foreachbatch_probe_then_upsert_loop(spark, tmp_path):
    """The COMPLETE continuous-ingestion pattern: each arriving
    micro-batch is (1) probed against the index for near-dups, then
    (2) upserted into it — so later batches dedup against earlier
    batches, not just the original corpus. Expected pairs are computed
    by replaying the same probe-against-prefix semantics in batch."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        minhash_index_upsert,
    )
    from kafka_streams_the_clojure_way_spark.sources.memory import drain

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "loop_idx")
    build_minhash_index(corpus, path)

    batches = [
        [ARRIVING[0]],                     # near-dup of corpus doc 1
        [(104, ARRIVING[0][1] + " late")], # near-dup of BATCH-1 doc 101
        [ARRIVING[2]],                     # matches nothing
    ]
    # batch-land replay: probe each batch against corpus + earlier batches
    expected = []
    seen = list(CORPUS)
    for rows in batches:
        probe = spark.createDataFrame(rows, SCHEMA)
        prefix = spark.createDataFrame(seen, SCHEMA)
        expected += [
            (r.probe_id, r.corpus_id)
            for r in minhash_lsh_pairs_between(probe, prefix, threshold=0.5).collect()
        ]
        seen += rows
    expected = sorted(expected)
    assert (104, 101) in expected, "fixture must produce a cross-batch pair"

    in_dir = tmp_path / "arriving"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    got = []

    def gate(batch_df, batch_id):
        for r in minhash_index_probe(spark, path, batch_df, threshold=0.5).collect():
            got.append((r.probe_id, r.corpus_id))
        minhash_index_upsert(spark, path, batch_df, assume_new_ids=True)

    q = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "loop_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    assert sorted(got) == expected


# --------------------------------------------------------------------------
# round 5: file-layout hygiene, compaction, and the streaming serve helper
# --------------------------------------------------------------------------

import os

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow


def _files_per_leaf_dir(root: str) -> dict[str, int]:
    """parquet-file count per (band=?, bucket=?) leaf directory."""
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def test_upsert_adds_at_most_one_file_per_directory(spark, tmp_path):
    """The ADVICE-flagged tiny-file pathology: without a repartition onto
    the partition columns, every upstream task slivers every directory
    (tasks x files per batch). The upsert must add AT MOST ONE file per
    touched (band, bucket) directory per batch."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        minhash_index_upsert,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "layout_idx")
    build_minhash_index(docs.filter(F.col("doc_id") % 3 != 0), path)
    before = _files_per_leaf_dir(f"{index_dataset_root(path)}/bands")
    assert before and all(n == 1 for n in before.values()), "build layout broken"
    shingles_before = sum(_files_per_leaf_dir(f"{index_dataset_root(path)}/shingles").values())

    minhash_index_upsert(spark, path, docs.filter(F.col("doc_id") % 3 == 0))
    after = _files_per_leaf_dir(f"{index_dataset_root(path)}/bands")
    grown = {d: after[d] - before.get(d, 0) for d in after}
    assert any(g == 1 for g in grown.values()), "upsert touched no directory"
    assert all(g <= 1 for g in grown.values()), {
        d: g for d, g in grown.items() if g > 1
    }
    # shingles: exactly one new file per upsert batch
    shingles_after = sum(_files_per_leaf_dir(f"{index_dataset_root(path)}/shingles").values())
    assert shingles_after - shingles_before == 1


def test_compact_minhash_index_restores_layout_and_parity(spark, tmp_path):
    """After N upserts, compaction must return the bands table to ONE
    file per partition directory and leave probe answers byte-identical."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        compact_minhash_index,
        minhash_index_upsert,
    )

    docs = load_table(spark, SF, "documents")
    probe = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "compact_idx")
    build_minhash_index(docs.filter(F.col("doc_id") % 4 == 1), path)
    for m in (2, 3, 0):
        minhash_index_upsert(
            spark, path, docs.filter(F.col("doc_id") % 4 == m), assume_new_ids=True
        )
    files = _files_per_leaf_dir(f"{index_dataset_root(path)}/bands")
    assert any(n > 1 for n in files.values()), "fixture never re-touched a dir"

    before = _rows(minhash_index_probe(spark, path, probe, threshold=0.8))
    compact_minhash_index(spark, path)
    after_files = _files_per_leaf_dir(f"{index_dataset_root(path)}/bands")
    assert after_files and all(n == 1 for n in after_files.values()), after_files
    assert sum(_files_per_leaf_dir(f"{index_dataset_root(path)}/shingles").values()) == 1
    assert _rows(minhash_index_probe(spark, path, probe, threshold=0.8)) == before
    assert before, "fixture slice must produce pairs"


def test_probe_stream_serve_prunes_and_matches(spark, tmp_path):
    """The foreachBatch serve helper (the production streaming path):
    every micro-batch must (1) carry the batch path's static (band,
    bucket) PartitionFilter on its postings scan — per-trigger cost
    independent of corpus size, which the stream-static fallback cannot
    offer — (2) reproduce the batch probe's rows exactly, and (3) leave
    no cached frames behind."""
    import re

    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        minhash_index_probe_stream,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "serve_idx")
    build_minhash_index(corpus, path)
    expected = _rows(
        minhash_index_probe(spark, path, spark.createDataFrame(ARRIVING, SCHEMA), threshold=0.5)
    )
    assert expected

    in_dir = tmp_path / "arriving"
    for i, row in enumerate(ARRIVING):
        spark.createDataFrame([row], SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )

    got, batches, pruned_plans = [], [], []

    def sink(pairs, batch_id):
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
        if any(re.search(r"band#\d+ \* ", p) and " IN (" in p for p in pfs):
            pruned_plans.append(batch_id)
        batches.append(batch_id)
        got.extend((r.probe_id, r.corpus_id, r.jaccard) for r in pairs.collect())

    def persistent():
        # ids, not a count: the context cleaner may release other tests'
        # frames while the loop runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    q = minhash_index_probe_stream(
        spark, path, stream, sink,
        threshold=0.5, checkpoint=str(tmp_path / "serve_ckpt"),
    )
    drain(q)
    assert len(batches) >= 2, batches
    assert pruned_plans == batches, (pruned_plans, batches)
    assert sorted(got) == expected
    assert persistent() <= before, "the serve loop left persisted frames"


def test_probe_stream_upsert_loop_with_compaction(spark, tmp_path):
    """The helper's full continuous-ingestion cycle (upsert=True): later
    batches dedup against earlier batches, replayed-batch semantics match
    the imperative loop test, and compact_every keeps the index at one
    file per directory between triggers."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        minhash_index_probe_stream,
        minhash_lsh_pairs_between,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "loop_idx2")
    build_minhash_index(corpus, path)

    batches = [
        [ARRIVING[0]],
        [(104, ARRIVING[0][1] + " late")],
        [ARRIVING[2]],
    ]
    expected = []
    seen = list(CORPUS)
    for rows_ in batches:
        probe = spark.createDataFrame(rows_, SCHEMA)
        prefix = spark.createDataFrame(seen, SCHEMA)
        expected += [
            (r.probe_id, r.corpus_id)
            for r in minhash_lsh_pairs_between(probe, prefix, threshold=0.5).collect()
        ]
        seen += rows_
    expected = sorted(expected)
    assert (104, 101) in expected

    in_dir = tmp_path / "arriving2"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got = []

    def sink(pairs, batch_id):
        got.extend((r.probe_id, r.corpus_id) for r in pairs.collect())

    q = minhash_index_probe_stream(
        spark, path, stream, sink,
        threshold=0.5, checkpoint=str(tmp_path / "loop_ckpt2"),
        upsert=True, compact_every=1,
    )
    drain(q)
    assert sorted(got) == expected
    files = _files_per_leaf_dir(f"{index_dataset_root(path)}/bands")
    assert files and all(n == 1 for n in files.values()), files


def test_tombstone_delete_then_compact(spark, tmp_path):
    """Logical deletes (the takedown path): tombstoned corpus docs stop
    matching immediately (broadcast anti-join), compaction folds them in
    physically and clears the set, and a deleted id can be RE-added
    after the compact (the documented append-only-log contract)."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        compact_minhash_index,
        minhash_index_delete,
        minhash_index_upsert,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    probe = spark.createDataFrame(ARRIVING, SCHEMA)
    path = str(tmp_path / "tomb_idx")
    build_minhash_index(corpus, path)

    before = _rows(minhash_index_probe(spark, path, probe, threshold=0.5))
    assert {c for _, c, _ in before} >= {1, 2}

    minhash_index_delete(spark, path, [1])
    after_del = _rows(minhash_index_probe(spark, path, probe, threshold=0.5))
    assert after_del == [r for r in before if r[1] != 1] and after_del

    compact_minhash_index(spark, path)
    import os

    assert not os.path.exists(f"{index_dataset_root(path)}/tombstones")
    assert _rows(minhash_index_probe(spark, path, probe, threshold=0.5)) == after_del
    shingle_ids = {
        r.doc_id for r in spark.read.parquet(f"{index_dataset_root(path)}/shingles").select("doc_id").collect()
    }
    assert 1 not in shingle_ids and 2 in shingle_ids

    # post-compact the id is physically gone, so the add-only anti-join
    # admits it again
    minhash_index_upsert(spark, path, corpus.filter(F.col("doc_id") == 1))
    assert _rows(minhash_index_probe(spark, path, probe, threshold=0.5)) == before
