"""One index lifecycle, fast tier: every persisted index is a versioned
snapshot (``v_NNNNNN`` + an atomic ``CURRENT`` pointer) written
through one upsert core and maintained through one compaction, GC and
tombstone core. Pinned here on the two text families the exact and
near-dup gates serve from, at ~50 rows: build -> upsert -> delete ->
compact -> GC -> compact -> GC probes exactly like a fresh build over
the surviving rows, GC leaves only the current version, and an index
without ``CURRENT`` fails loudly. The other upserting families (bloom,
keyset, pHash, video, audio) pin build-half -> upsert -> replay against
a fresh build at 40 rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP
from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import imagehash as IH
from kafka_streams_the_clojure_way_spark.operators.multimodal import (
    encode_text_assets,
    wrap_binary_assets,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"

FAMILIES = {
    "minhash": (
        D.build_minhash_index,
        D.minhash_index_upsert,
        D.minhash_index_probe,
        D.compact_minhash_index,
        lambda r: (r.probe_id, r.corpus_id, r.jaccard),
    ),
    "hash": (
        D.build_hash_index,
        D.hash_index_upsert,
        D.hash_index_probe,
        D.compact_hash_index,
        lambda r: (r.probe_id, r.corpus_id),
    ),
}


def _versions(path):
    return sorted(n for n in os.listdir(path) if n.startswith("v_"))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_lifecycle_probes_like_a_fresh_build(spark, tmp_path, family):
    build, upsert, probe, compact, row = FAMILIES[family]
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50)
        .cache()
    )
    # byte-identical re-crawls of every doc under new ids
    twins = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")

    def answers(path):
        return sorted(row(r) for r in probe(spark, path, twins).collect())

    path = str(tmp_path / "idx")
    build(docs.filter(F.col("doc_id") % 2 == 0), path)
    assert _versions(path) == ["v_000000"]
    assert D.index_dataset_root(path) == os.path.join(path, "v_000000")
    upsert(spark, path, docs.filter(F.col("doc_id") % 2 == 1))
    victims = [r.doc_id for r in docs.limit(2).collect()]
    D.index_delete(spark, path, victims)
    assert os.path.isdir(os.path.join(D.index_dataset_root(path), "tombstones"))

    for _ in range(2):
        compact(spark, path)
        D.gc_index_versions(path)
        root = D.index_dataset_root(path)
        assert _versions(path) == [os.path.basename(root)]
        assert not os.path.exists(os.path.join(root, "tombstones"))

    fresh = str(tmp_path / "fresh")
    build(docs.filter(~F.col("doc_id").isin(victims)), fresh)
    got = answers(path)
    assert got, "fixture must produce probe hits"
    assert all(c not in victims for _, c, *_ in got)
    assert got == answers(fresh)

    # an index without its CURRENT pointer is not silently read as one
    os.remove(os.path.join(path, D.INDEX_CURRENT_POINTER))
    with pytest.raises(FileNotFoundError, match="no CURRENT pointer; rebuild"):
        probe(spark, path, twins)
    docs.unpersist()


def _png(df):
    return wrap_binary_assets(
        df.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "payload",
        "image/png",
    )


def _keyed(df):
    # each row's doc_id as a string key, for the keyset family
    return df.select(F.concat(F.lit("k"), F.col("doc_id")).alias("key"))


def _asset_family(encode, build, upsert, probe, key_dataset, **build_kw):
    """Build/upsert/probe for a family keyed on asset ids: the upsert
    batch carries its ids as ``asset_id`` against a ``doc_id`` build."""
    return (
        lambda df, path: build(encode(df), path, **build_kw),
        lambda spark, path, df: upsert(
            spark, path, encode(df).withColumnRenamed("doc_id", "asset_id"),
            id_col="asset_id",
        ),
        lambda spark, path, df, caches: [
            tuple(r) for r in probe(spark, path, encode(df), cache_registry=caches)
            .collect()
        ],
        key_dataset,
    )


#: (build(df, path), upsert(spark, path, df), probe(spark, path, df,
#: caches) -> rows, the dataset the add-only anti-join keys on or None)
UPSERT_FAMILIES = {
    "bloom": (
        lambda df, path: D.build_bloom_index(df, path),
        lambda spark, path, df: D.bloom_index_upsert(spark, path, df),
        lambda spark, path, df, caches: [
            tuple(r) for r in D.bloom_index_probe(
                spark, path, df, cache_registry=caches
            ).collect()
        ],
        None,
    ),
    "keyset": (
        lambda df, path: D.build_keyset_index(_keyed(df), path),
        lambda spark, path, df: D.keyset_index_upsert(spark, path, _keyed(df)),
        lambda spark, path, df, caches: [
            (r.key,) for r in D.keyset_index_probe(
                # the copies' own ids are misses, their source ids hits
                spark, path, _keyed(df).union(
                    _keyed(df.select((F.col("doc_id") % 1_000_000).alias("doc_id")))
                ),
                cache_registry=caches,
            ).collect()
        ],
        "keys",
    ),
    "phash": _asset_family(
        _png, IH.build_phash_index, IH.phash_index_upsert, IH.phash_index_probe,
        "bands",
    ),
    "video": _asset_family(
        lambda df: encode_text_assets(df, "pgm"), IH.build_video_phash_index,
        IH.video_phash_index_upsert, IH.video_phash_index_probe, "frames",
    ),
    "audiofp": _asset_family(
        lambda df: encode_text_assets(df, "wav"), AFP.build_audiofp_index,
        AFP.audiofp_index_upsert, AFP.audiofp_index_probe, "postings",
        decode="wav",
    ),
}


@pytest.mark.parametrize("family", sorted(UPSERT_FAMILIES))
def test_upsert_probes_like_a_fresh_build(spark, tmp_path, family):
    """Build half, upsert the rest, replay the upsert: the probe answers
    (and the anti-join's key dataset) equal a fresh build over all rows."""
    build, upsert, probe, key_dataset = UPSERT_FAMILIES[family]
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
        .cache()
    )
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    caches: list = []

    def answers(path):
        return sorted(probe(spark, path, copies, caches))

    def key_rows(path):
        root = D.index_dataset_root(path)
        return spark.read.parquet(os.path.join(root, key_dataset)).count()

    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    build(docs.filter(F.col("doc_id") % 2 == 0), path)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    upsert(spark, path, rest)
    upsert(spark, path, rest)  # an at-least-once replay adds nothing
    build(docs, fresh)
    want = answers(fresh)
    assert want, "fixture must produce probe hits"
    assert answers(path) == want
    if key_dataset is not None:
        assert key_rows(path) == key_rows(fresh)
    for frame in caches:
        frame.unpersist()
    docs.unpersist()


def test_directory_without_current_pointer_raises_rebuild_error(tmp_path):
    legacy = tmp_path / "legacy"
    (legacy / "bands").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="rebuild it with build_"):
        D.index_dataset_root(str(legacy))
    with pytest.raises(FileNotFoundError, match="no CURRENT pointer"):
        D.gc_index_versions(str(legacy))


def test_keyset_upsert_leaves_no_persisted_frames(spark, tmp_path):
    """The upsert's membership probe caches its key frames; they are
    released after the appends, so a long-running loop does not grow
    the persistent-RDD set by two per upsert."""
    path = str(tmp_path / "keyset")
    D.build_keyset_index(
        spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string"), path
    )
    def persistent():
        # ids, not a count: the context cleaner may release other tests'
        # frames while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    for wave in range(3):
        new = spark.createDataFrame(
            [(f"k{i}",) for i in range(wave, wave + 3)]
            + [(f"w{wave}_{i}",) for i in range(2)],
            "key string",
        )
        D.keyset_index_upsert(spark, path, new)
        assert persistent() <= before, "the upsert left persisted frames"
    probe_caches: list = []
    hits = D.keyset_index_probe(
        spark,
        path,
        spark.createDataFrame([("w2_1",), ("k19",), ("nope",)], "key string"),
        cache_registry=probe_caches,
    )
    assert sorted(r.key for r in hits.collect()) == ["k19", "w2_1"]
    for frame in probe_caches:
        frame.unpersist()


def test_probe_without_tombstones_never_reads_them(spark, tmp_path, monkeypatch):
    """An index without a tombstone set is probed without asking Spark
    to read the missing ``tombstones`` dataset (a failed analysis and a
    logged FileNotFoundException per probe)."""
    docs = spark.createDataFrame(
        [(1, "the cat sat down"), (2, "a dog ran off")], "doc_id long, text string"
    )
    path = str(tmp_path / "hash")
    D.build_hash_index(docs, path)
    read = []
    real = D.read_static_schema

    def spy(spark, p):
        read.append(p)
        return real(spark, p)

    monkeypatch.setattr(D, "read_static_schema", spy)
    twins = docs.select((F.col("doc_id") + 10).alias("doc_id"), "text")
    assert len(D.hash_index_probe(spark, path, twins).collect()) == 2
    assert read, "the probe reads the index through read_static_schema"
    assert not any(p.rstrip("/").endswith("tombstones") for p in read)
