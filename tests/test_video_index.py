"""Video pHash frame persisted index (operators/imagehash.py — the
ninth index family): probe == the between-form per-frame definition,
upsert == rebuild (replay idempotent), compaction invisibility + layout
restoration, and the probe's literal (band, bucket) partition routing.
Every asset is a real concatenated-P5 container demuxed by the real
parser (functions/codecs)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.imagehash import (
    VIDEO_MAX_DIST,
    VIDEO_MIN_FRAMES,
    build_video_phash_index,
    compact_video_phash_index,
    video_frame_phashes,
    video_phash_index_probe,
    video_phash_index_upsert,
)
from kafka_streams_the_clojure_way_spark.operators.multimodal import (
    encode_text_assets,
)
from kafka_streams_the_clojure_way_spark.operators.dedup import index_dataset_root
from kafka_streams_the_clojure_way_spark.sources.files import load_table

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _assets(df):
    return encode_text_assets(df, "pgm")


def _corpus_and_twins(spark, mod=1):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(120)
    twins = docs.filter(F.col("doc_id") % 3 == mod).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.expr(
            "concat(substring(text, 1, CAST(doc_id % length(text) AS INT)), 'x', "
            "substring(text, CAST(doc_id % length(text) AS INT) + 2))"
        ).alias("text"),
    )
    return docs, twins


def _frame_sigs(df):
    """{doc_id: {frame_idx: phash}} via the real PGM demux path."""
    out: dict[int, dict[int, int]] = {}
    for r in video_frame_phashes(_assets(df)).collect():
        out.setdefault(r.doc_id, {})[r.frame_idx] = r.phash
    return out


def _expected_probe(corpus_sigs, probe_sigs, dist=VIDEO_MAX_DIST, bar=VIDEO_MIN_FRAMES):
    rows = []
    for p, pf in probe_sigs.items():
        for c, cf in corpus_sigs.items():
            if p == c:
                continue
            close = sum(
                1
                for fi, ph in pf.items()
                if fi in cf and bin(ph ^ cf[fi]).count("1") <= dist
            )
            if close >= bar:
                rows.append((p, c, close))
    return sorted(rows)


def test_index_probe_matches_between_definition_and_prunes(spark, tmp_path):
    docs, twins = _corpus_and_twins(spark)
    path = str(tmp_path / "vph")
    build_video_phash_index(_assets(docs), path)
    probe = video_phash_index_probe(spark, path, _assets(twins))
    got = sorted(
        (r.probe_id, r.corpus_id, r.n_close_frames) for r in probe.collect()
    )
    want = _expected_probe(_frame_sigs(docs), _frame_sigs(twins))
    assert got == want and got
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    routed = [p for p in pfs if re.search(r"band#\d+L? IN|bucket#\d+L? IN", p)]
    assert routed, plan[:3000]


def test_upsert_equals_rebuild_replay_idempotent_compaction_invisible(
    spark, tmp_path
):
    docs, twins = _corpus_and_twins(spark)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_video_phash_index(_assets(half), inc)
    video_phash_index_upsert(spark, inc, _assets(rest))
    build_video_phash_index(_assets(docs), full)

    def probe_rows(path):
        return sorted(
            (r.probe_id, r.corpus_id, r.n_close_frames)
            for r in video_phash_index_probe(spark, path, _assets(twins)).collect()
        )

    want = probe_rows(full)
    assert probe_rows(inc) == want and want
    video_phash_index_upsert(spark, inc, _assets(rest))  # replay: anti-joined out
    assert probe_rows(inc) == want
    compact_video_phash_index(spark, inc)
    assert probe_rows(inc) == want
    frames_root = os.path.join(index_dataset_root(inc), "frames")
    for dirpath, _, files in os.walk(frames_root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            assert n == 1, f"{dirpath} has {n} files after compaction"


def test_max_dist_validation(spark, tmp_path):
    import pytest

    docs, twins = _corpus_and_twins(spark)
    path = str(tmp_path / "vph")
    build_video_phash_index(_assets(docs.limit(5)), path)
    with pytest.raises(ValueError, match="pigeonhole"):
        video_phash_index_probe(spark, path, _assets(twins), max_dist=3)


def test_probe_stream_upsert_cycle(spark, tmp_path):
    """The streaming probe-then-upsert loop: batch 1's video is admitted
    and upserted; batch 2's re-encode of it (a perturbed twin) is caught
    against the UPSERTED video, not just the build-time corpus."""
    from kafka_streams_the_clojure_way_spark.operators.imagehash import (
        video_phash_index_probe_stream,
    )
    from kafka_streams_the_clojure_way_spark.sources.memory import drain

    docs, _ = _corpus_and_twins(spark)
    corpus = docs.filter(F.col("doc_id") < 50)
    # a video long enough that >= VIDEO_MIN_FRAMES sampled frames
    # survive the one-byte twin perturbation: corpus docs max out at
    # ~9 frames (2 sampled), so a synthetic ~2000-byte clip (32 frames,
    # 7 sampled) stands in for the long-footage case
    new_id = 99_000
    newdoc = spark.createDataFrame(
        [(new_id, "frame content %03d " % 7 * 105)], "doc_id long, text string"
    )
    path = str(tmp_path / "vph")
    build_video_phash_index(_assets(corpus), path)

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

    q = video_phash_index_probe_stream(
        spark, path, stream, sink,
        upsert=True, compact_every=1,
        checkpoint=str(tmp_path / "ck"),
    )
    drain(q)
    assert (new_id + 10_000_000, new_id) in got
    assert all(c != p for p, c in got)  # no self-pairs
