"""Round-9 regression tests for the r8 ADVICE findings and VERDICT
item 8 (minhash_lsh_pairs cache_registry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators.text import (
    bpe_token_count_col,
    bpe_token_counts,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table


def test_bpe_token_counts_keeps_null_and_empty_docs(spark):
    """ADVICE r8: the batch (distinct-word) form must yield a count row
    for EVERY input doc — including NULL and empty text, where the
    explode-based token stream used to drop the row — matching the
    per-row fold's row preservation with count 0."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, ""), (4, "a")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_tokens_bpe for r in bpe_token_counts(df).collect()}
    assert set(got) == {1, 2, 3, 4}, "every doc must yield a count row"
    assert got[2] == 0 and got[3] == 0

    # non-degenerate docs still match the per-row occurrence fold
    fold = {
        r.doc_id: r.n
        for r in df.filter(F.col("text").isNotNull())
        .select("doc_id", bpe_token_count_col(F.col("text")).alias("n"))
        .collect()
    }
    assert got[1] == fold[1] and got[4] == fold[4]


def test_minhash_lsh_pairs_cache_registry(spark, sf_dir):
    """VERDICT r8 item 8: the signature cache registers with the
    caller's registry (the minhash_index_probe lifecycle) and the
    output is unchanged by passing one."""
    docs = load_table(spark, sf_dir, "documents").limit(80)

    def rows(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())

    baseline = rows(D.minhash_lsh_pairs(docs))
    caches: list = []
    got = rows(D.minhash_lsh_pairs(docs, cache_registry=caches))
    assert got == baseline
    assert len(caches) == 1, "exactly the signature frame registers"
    for frame in caches:
        frame.unpersist()


def test_bloom_gated_exact_probe_forwards_cache_registry(spark, tmp_path):
    """ADVICE r8: the composed bloom->hash exact gate forwards
    cache_registry to bloom_index_probe so a foreachBatch loop can
    unpersist the probe-need frame per micro-batch."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    bloom = str(tmp_path / "bloom_idx")
    hashes = str(tmp_path / "hash_idx")
    D.build_bloom_index(corpus, bloom)
    D.build_hash_index(corpus, hashes)

    def rows(df):
        return sorted(
            (r.probe_id, r.corpus_id, r.content_hash) for r in df.collect()
        )

    baseline = rows(
        D.bloom_gated_exact_probe(spark, bloom, hashes, batch)
    )
    caches: list = []
    got = rows(
        D.bloom_gated_exact_probe(
            spark, bloom, hashes, batch, cache_registry=caches
        )
    )
    assert got == baseline
    assert caches, "the bloom probe's need frame must register"
    for frame in caches:
        frame.unpersist()


def test_jsonl_gz_cache_revalidates_and_registers_cleanup(tmp_path, sf_dir):
    """ADVICE r8: the jsonl.gz fixture cache keys on a content token of
    the source documents table (a rewrite invalidates it) and temp dirs
    register for atexit cleanup instead of leaking. Both now live in the
    artifact core: ``sources.files.change_token`` and the exit sweep of
    ``artifacts.scratch_dir``."""
    import os

    from kafka_streams_the_clojure_way_spark.sources.files import change_token

    sf = tmp_path / "sf_fake"
    sf.mkdir()
    doc = sf / "documents.parquet"
    doc.write_bytes(b"one")
    t1 = change_token(str(doc))
    assert t1 is not None
    # same content -> same token
    assert change_token(str(doc)) == t1
    # rewrite -> token changes (size differs; mtime_ns covers same-size)
    doc.write_bytes(b"rewritten")
    assert change_token(str(doc)) != t1
    # unreadable -> None (degrade to cache-by-path)
    assert change_token(str(tmp_path / "missing" / "documents.parquet")) is None

    # real sf_dir resolves a token (directory or file layout)
    assert change_token(os.path.join(sf_dir, "documents.parquet")) is not None
    assert os.path.exists("/root/testdata/sf0.001")
