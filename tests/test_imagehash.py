"""Image pHash near-dup tier (operators/imagehash.py — the seventh
persisted index family): signature determinism, banding losslessness
(banded pairs == brute-force pairs at the pigeonhole distance), index
probe == inline pairs on the same split, upsert == rebuild (idempotent
under replay), compaction invisibility + layout restoration, and the
probe's literal partition routing. Mirrors the minhash/bloom suites."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_the_clojure_way_spark.operators.imagehash import (
    PHASH_MAX_DIST,
    build_phash_index,
    compact_phash_index,
    phash_assets,
    phash_index_probe,
    phash_index_upsert,
    phash_pairs,
)
from kafka_streams_the_clojure_way_spark.operators.multimodal import (
    wrap_binary_assets,
)
from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.sources.files import load_table

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _assets(df):
    return wrap_binary_assets(
        df.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "payload",
        "image/png",
    )


def _corpus_and_twins(spark, mod=1):
    """Real docs + a single-byte-perturbed twin per doc (the re-encode
    stand-in the registered queries use)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(120)
    twins = docs.filter(F.col("doc_id") % 3 == mod).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.expr(
            "concat(substring(text, 1, CAST(doc_id % length(text) AS INT)), 'x', "
            "substring(text, CAST(doc_id % length(text) AS INT) + 2))"
        ).alias("text"),
    )
    return docs, twins


def test_phash_deterministic_and_twin_mostly_invariant(spark):
    docs, twins = _corpus_and_twins(spark)
    a = dict(
        (r.doc_id, r.phash) for r in phash_assets(_assets(docs)).collect()
    )
    b = dict(
        (r.doc_id, r.phash) for r in phash_assets(_assets(docs)).collect()
    )
    assert a == b and len(a) == 120  # repartition/replay-stable
    assert all(v >= 0 for v in a.values())  # 63 bits: sign bit never set
    # a one-byte corruption flips few bits; unrelated docs are far apart
    tw = dict(
        (r.doc_id, r.phash) for r in phash_assets(_assets(twins)).collect()
    )
    close = sum(
        1
        for tid, tph in tw.items()
        if bin(tph ^ a[tid - 10_000_000]).count("1") <= PHASH_MAX_DIST
    )
    assert close >= len(tw) * 0.7, (close, len(tw))


def test_banded_pairs_equal_brute_force(spark):
    docs, twins = _corpus_and_twins(spark)
    both = docs.unionByName(twins)
    got = sorted(
        (r.id_a, r.id_b, r.hamming) for r in phash_pairs(_assets(both)).collect()
    )
    sigs = {r.doc_id: r.phash for r in phash_assets(_assets(both)).collect()}
    ids = sorted(sigs)
    want = sorted(
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= PHASH_MAX_DIST
    )
    assert got == want and got  # non-empty: twins pair with originals


def test_index_probe_matches_inline_and_prunes(spark, tmp_path):
    docs, twins = _corpus_and_twins(spark)
    path = str(tmp_path / "ph")
    build_phash_index(_assets(docs), path)
    probe = phash_index_probe(spark, path, _assets(twins))
    got = sorted((r.probe_id, r.corpus_id, r.hamming) for r in probe.collect())
    csigs = {r.doc_id: r.phash for r in phash_assets(_assets(docs)).collect()}
    psigs = {r.doc_id: r.phash for r in phash_assets(_assets(twins)).collect()}
    want = sorted(
        (p, c, bin(ps ^ cs).count("1"))
        for p, ps in psigs.items()
        for c, cs in csigs.items()
        if bin(ps ^ cs).count("1") <= PHASH_MAX_DIST
    )
    assert got == want and got
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    routed = [p for p in pfs if re.search(r"band#\d+ IN", p)]
    assert routed, plan[:3000]


def test_upsert_equals_rebuild_replay_idempotent_compaction_invisible(
    spark, tmp_path
):
    docs, twins = _corpus_and_twins(spark)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_phash_index(_assets(half), inc)
    phash_index_upsert(spark, inc, _assets(rest))
    build_phash_index(_assets(docs), full)

    def probe_rows(path):
        return sorted(
            (r.probe_id, r.corpus_id, r.hamming)
            for r in phash_index_probe(spark, path, _assets(twins)).collect()
        )

    want = probe_rows(full)
    assert probe_rows(inc) == want and want
    phash_index_upsert(spark, inc, _assets(rest))  # replay: anti-joined out
    assert probe_rows(inc) == want
    compact_phash_index(spark, inc)
    assert probe_rows(inc) == want
    bands_root = os.path.join(index_dataset_root(inc), "bands")
    for dirpath, _, files in os.walk(bands_root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            assert n == 1, f"{dirpath} has {n} files after compaction"


def test_max_dist_validation(spark):
    import pytest

    docs, _ = _corpus_and_twins(spark)
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_pairs(_assets(docs), max_dist=9)


def test_probe_stream_upsert_cycle(spark, tmp_path):
    """The streaming probe-then-upsert loop: batch 1's image is admitted
    and upserted; batch 2's re-encode of it (a perturbed twin) is caught
    against the UPSERTED image, not just the build-time corpus — and a
    probe replay of batch 2 stays idempotent (no self-pairs appear)."""
    from kafka_streams_the_clojure_way_spark.operators.imagehash import (
        phash_index_probe_stream,
    )
    from kafka_streams_the_clojure_way_spark.sources.memory import drain

    docs, _ = _corpus_and_twins(spark)
    corpus = docs.filter(F.col("doc_id") < 50)
    newdoc = docs.filter(F.col("doc_id") >= 50).limit(1)
    new_id = newdoc.collect()[0].doc_id
    path = str(tmp_path / "ph")
    build_phash_index(_assets(corpus), path)

    twin = newdoc.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.expr(
            "concat(substring(text, 1, CAST(doc_id % length(text) AS INT)), 'x', "
            "substring(text, CAST(doc_id % length(text) AS INT) + 2))"
        ).alias("text"),
    )
    in_dir = tmp_path / "in"
    _assets(newdoc).select("doc_id", "asset").write.parquet(str(in_dir / "b0"))
    _assets(twin).select("doc_id", "asset").write.parquet(str(in_dir / "b1"))
    schema = _assets(newdoc).select("doc_id", "asset").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got = []

    def sink(pairs, batch_id):
        got.extend((r.probe_id, r.corpus_id) for r in pairs.collect())

    q = phash_index_probe_stream(
        spark, path, stream, sink,
        upsert=True, compact_every=1,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    # batch 1 (the new doc) matched nothing in the corpus; batch 2 (its
    # twin) matched the doc upserted by batch 1.
    assert (new_id + 10_000_000, new_id) in got, got
    assert all(c != p for p, c in got)


def test_video_phash_pairs_equal_brute_force(spark):
    """Banded frame-aligned video pairs == the all-pairs per-frame
    definition (3x21-bit banding is lossless to Hamming 2 by
    pigeonhole), over real PGM containers demuxed by the real parser."""
    from kafka_streams_the_clojure_way_spark.operators.imagehash import (
        VIDEO_MAX_DIST,
        VIDEO_MIN_FRAMES,
        video_frame_phashes,
        video_phash_pairs,
    )
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets,
    )

    docs, twins = _corpus_and_twins(spark)
    both = docs.unionByName(twins)
    assets = encode_text_assets(both, "pgm")
    got = sorted(
        (r.id_a, r.id_b, r.n_close_frames)
        for r in video_phash_pairs(assets).collect()
    )
    sigs: dict[int, dict[int, int]] = {}
    for r in video_frame_phashes(assets).collect():
        sigs.setdefault(r.doc_id, {})[r.frame_idx] = r.phash
    ids = sorted(sigs)
    want = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            close = sum(
                1
                for fi, ph in sigs[a].items()
                if fi in sigs[b]
                and bin(ph ^ sigs[b][fi]).count("1") <= VIDEO_MAX_DIST
            )
            if close >= VIDEO_MIN_FRAMES:
                want.append((a, b, close))
    assert got == sorted(want) and got  # non-empty: twins pair via intact frames
