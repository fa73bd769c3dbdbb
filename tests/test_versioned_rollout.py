"""Versioned snapshot reads for ALL NINE index families (minhash and
hash are pinned in tests/test_compaction_contract.py; this suite pins
the other seven: containment, bloom, keyset, IVF, image pHash, audio
fp, video pHash) — one test parametrized over the family layouts.

Per family the contract is identical: ``compact_*`` writes the
compacted layout into a fresh ``v_NNNNNN`` dir and atomically repoints
the index's CURRENT pointer, so

- an IN-FLIGHT probe (plan built before the repoint) collects its exact
  pre-compact answers afterwards — its snapshot's files are never
  touched;
- a post-repoint probe reads the new version, answers unchanged;
- ``gc_index_versions`` reclaims the superseded version without
  disturbing the current one;
- upserts after the repoint land in the CURRENT version.

A crash INSIDE the shared version writer leaves CURRENT untouched
(orphan dir, readers unaffected) — pinned once on the shared
``compact_into_version`` driver, which every family routes through.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP
from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import imagehash as IH
from kafka_streams_the_clojure_way_spark.operators import similarity as S
from kafka_streams_the_clojure_way_spark.operators.multimodal import (
    encode_text_assets,
    wrap_binary_assets,
)
from kafka_streams_the_clojure_way_spark.sources.files import load_table

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _docs(spark, n=90):
    return (
        load_table(spark, SF, "documents").select("doc_id", "text").limit(n)
    )


def _twins(docs, mod=0, offset=1_000_000):
    return docs.filter(F.col("doc_id") % 3 == mod).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )


def _assert_versioned_lifecycle(path, answers, compact_fn, dataset):
    """Shared assertion block: in-flight snapshot across the repoint,
    post-repoint identity, GC of the superseded version, current still
    serves."""
    before = answers()
    assert before, "fixture must produce at least one probe hit"

    old_root = D.index_dataset_root(path)
    inflight = answers.frame()
    compact_fn()
    root = D.index_dataset_root(path)
    assert root != old_root and os.path.basename(root).startswith("v_")
    assert sorted(answers.rows(inflight)) == before, "snapshot torn"
    assert answers() == before, "post-repoint answers changed"

    deleted = D.gc_index_versions(path)
    assert deleted == [old_root], "GC must reclaim the superseded version"
    assert not os.path.isdir(old_root)
    assert os.path.isdir(os.path.join(root, dataset))
    assert answers() == before, "answers changed after GC"
    return before


class _Answers:
    """Callable returning sorted probe rows; .frame() builds a lazy
    probe plan (the in-flight reader), .rows() collects one."""

    def __init__(self, build_frame, row_of):
        self.build_frame = build_frame
        self.row_of = row_of

    def frame(self):
        return self.build_frame()

    def rows(self, frame):
        return [self.row_of(r) for r in frame.collect()]

    def __call__(self):
        return sorted(self.rows(self.build_frame()))


def test_compact_into_version_crash_leaves_pointer_untouched(tmp_path):
    path = str(tmp_path / "idx")
    first = D.compact_into_version(path, lambda nr: os.makedirs(nr))

    def boom(newroot):
        os.makedirs(newroot)
        raise OSError("injected crash inside version writer")

    with pytest.raises(OSError, match="injected crash"):
        D.compact_into_version(path, boom)
    # CURRENT untouched -> root still resolves to the first version; the
    # orphan dir is left for GC
    assert D.index_dataset_root(path) == first
    assert len([n for n in os.listdir(path) if n.startswith("v_")]) == 2
    # a retry allocates the NEXT version, never reusing the orphan
    done = D.compact_into_version(path, lambda nr: os.makedirs(nr))
    assert D.index_dataset_root(path) == done
    deleted = D.gc_index_versions(path)
    assert len(deleted) == 2 and os.path.isdir(done)


def _assets(df, mime):
    return wrap_binary_assets(
        df.withColumn("payload", F.encode(F.col("text"), "UTF-8")), "payload", mime
    )


def _containment(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    probe = _twins(docs)
    path = str(tmp_path / "cont")
    D.build_containment_index(corpus.filter(F.col("doc_id") % 3 == 1), path)
    D.containment_index_upsert(
        spark, path, corpus.filter(F.col("doc_id") % 3 == 2)
    )
    victim = corpus.select("doc_id").limit(1).collect()[0][0]
    D.containment_index_delete(spark, path, [victim])
    ans = _Answers(
        lambda: D.containment_index_probe(spark, path, probe),
        lambda r: (r.probe_id, r.corpus_id, r.n_shared, r.containment_r),
    )

    def after(before):
        assert all(c != victim for _, c, _, _ in before)
        root = D.index_dataset_root(path)
        assert not os.path.isdir(os.path.join(root, "tombstones"))
        # upsert lands in the current version: a new corpus doc matches
        extra = probe.select((F.col("doc_id") + 4_000_000).alias("doc_id"), "text")
        D.containment_index_upsert(spark, path, extra)
        assert any(c >= 4_000_000 for _, c, _, _ in ans())

    return path, ans, lambda: D.compact_containment_index(spark, path), "sets", after


def _bloom(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    probe = _twins(docs, mod=1)  # same text as corpus slice -> positives
    path = str(tmp_path / "bloom")
    D.build_bloom_index(corpus.filter(F.col("doc_id") % 3 == 1), path)
    D.bloom_index_upsert(spark, path, corpus.filter(F.col("doc_id") % 3 == 2))
    ans = _Answers(
        lambda: D.bloom_index_probe(spark, path, probe),
        lambda r: (r.probe_id, r.content_hash),
    )

    def after(before):
        # upsert into the current version: fresh docs become bloom-positive
        fresh = _twins(docs, mod=0, offset=7_000_000)
        assert not any(p >= 8_000_000 for p, _ in ans())
        D.bloom_index_upsert(spark, path, fresh)
        probe_fresh = fresh.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        assert D.bloom_index_probe(spark, path, probe_fresh).count() > 0

    return path, ans, lambda: D.compact_bloom_index(spark, path), "bits", after


def _keyset(spark, tmp_path):
    members = [f"gram {i} alpha" for i in range(40)]
    others = [f"gram {i} beta" for i in range(30)]

    def kdf(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    path = str(tmp_path / "ks")
    D.build_keyset_index(kdf(members[:25]), path)
    D.keyset_index_upsert(spark, path, kdf(members[25:]))
    ans = _Answers(
        lambda: D.keyset_index_probe(spark, path, kdf(members + others)),
        lambda r: (r.key,),
    )

    def after(before):
        assert before == sorted((k,) for k in members)
        D.keyset_index_upsert(spark, path, kdf(others[:5]))
        assert ans() == sorted((k,) for k in members + others[:5])

    return path, ans, lambda: D.compact_keyset_index(spark, path), "bits", after


def _ivf(spark, tmp_path):
    vecs = load_table(spark, SF, "embeddings").limit(300)
    queries = vecs.filter(F.col("vec_id") % 50 == 0).limit(5)
    path = str(tmp_path / "ivf")
    S.build_ivf_index(vecs.filter(F.col("vec_id") % 7 != 0), path)
    S.ivf_index_upsert(spark, path, vecs.filter(F.col("vec_id") % 7 == 0))
    victim = (
        S.ivf_index_topk(spark, path, queries, 3)
        .select("neighbor_id").limit(1).collect()[0][0]
    )
    S.ivf_index_delete(spark, path, [victim])
    ans = _Answers(
        lambda: S.ivf_index_topk(spark, path, queries, 3),
        lambda r: (r.query_id, r.neighbor_id, r.rank, r.cosine_r),
    )

    def after(before):
        assert all(n != victim for _, n, _, _ in before)
        root = D.index_dataset_root(path)
        assert not os.path.isdir(os.path.join(root, "tombstones"))
        # the frozen quantizer traveled with the version
        assert os.path.isdir(os.path.join(root, "centroids"))

    return path, ans, lambda: S.compact_ivf_index(spark, path), "postings", after


def _phash(spark, tmp_path):
    docs = _docs(spark, 120)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    probe = _twins(docs, mod=1)
    path = str(tmp_path / "ph")
    IH.build_phash_index(
        _assets(corpus.filter(F.col("doc_id") % 3 == 1), "image/png"), path
    )
    IH.phash_index_upsert(
        spark, path, _assets(corpus.filter(F.col("doc_id") % 3 == 2), "image/png")
    )
    ans = _Answers(
        lambda: IH.phash_index_probe(spark, path, _assets(probe, "image/png")),
        lambda r: (r.probe_id, r.corpus_id, r.hamming),
    )

    def after(before):
        extra = probe.select((F.col("doc_id") + 4_000_000).alias("doc_id"), "text")
        IH.phash_index_upsert(spark, path, _assets(extra, "image/png"))
        assert any(c >= 4_000_000 for _, c, _ in ans())

    return path, ans, lambda: IH.compact_phash_index(spark, path), "bands", after


def _audiofp(spark, tmp_path):
    docs = _docs(spark, 120)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    probe = _twins(docs, mod=1)
    path = str(tmp_path / "afp")
    AFP.build_audiofp_index(
        _assets(corpus.filter(F.col("doc_id") % 3 == 1), "audio/wav"), path
    )
    AFP.audiofp_index_upsert(
        spark, path, _assets(corpus.filter(F.col("doc_id") % 3 == 2), "audio/wav")
    )
    ans = _Answers(
        lambda: AFP.audiofp_index_probe(spark, path, _assets(probe, "audio/wav")),
        lambda r: (r.probe_id, r.corpus_id, r.n_shared),
    )

    def after(before):
        # the df-cap drop list survives the version swap (permanent artifact)
        root = D.index_dataset_root(path)
        assert os.path.isdir(os.path.join(root, "dropped"))
        extra = probe.select((F.col("doc_id") + 4_000_000).alias("doc_id"), "text")
        AFP.audiofp_index_upsert(spark, path, _assets(extra, "audio/wav"))
        assert any(c >= 4_000_000 for _, c, _ in ans())

    return path, ans, lambda: AFP.compact_audiofp_index(spark, path), "postings", after


def _video(spark, tmp_path):
    docs = _docs(spark, 90)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    probe = _twins(docs, mod=1)
    path = str(tmp_path / "vid")
    IH.build_video_phash_index(
        encode_text_assets(corpus.filter(F.col("doc_id") % 3 == 1), "pgm"), path
    )
    IH.video_phash_index_upsert(
        spark, path,
        encode_text_assets(corpus.filter(F.col("doc_id") % 3 == 2), "pgm"),
    )
    ans = _Answers(
        lambda: IH.video_phash_index_probe(
            spark, path, encode_text_assets(probe, "pgm")
        ),
        lambda r: (r.probe_id, r.corpus_id, r.n_close_frames),
    )

    def after(before):
        extra = probe.select((F.col("doc_id") + 4_000_000).alias("doc_id"), "text")
        IH.video_phash_index_upsert(spark, path, encode_text_assets(extra, "pgm"))
        assert any(c >= 4_000_000 for _, c, _ in ans())

    return path, ans, lambda: IH.compact_video_phash_index(spark, path), "frames", after


FAMILIES = {
    "containment": _containment,
    "bloom": _bloom,
    "keyset": _keyset,
    "ivf": _ivf,
    "phash": _phash,
    "audiofp": _audiofp,
    "video": _video,
}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_versioned_compact(spark, tmp_path, family):
    path, answers, compact_fn, dataset, after = FAMILIES[family](spark, tmp_path)
    before = _assert_versioned_lifecycle(path, answers, compact_fn, dataset)
    after(before)
