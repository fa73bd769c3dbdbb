"""Audio fingerprint persisted index (operators/audiofp.py — the eighth
index family): probe == the between-form inline definition, upsert ==
rebuild INCLUDING df-cap maintenance (keys crossing the cap under
upserts are logically dropped immediately and physically removed at
compaction), replay idempotence, compaction invisibility + layout
restoration, and the probe's literal fp partition routing. Mirrors the
pHash/minhash suites; every asset goes through the REAL stdlib WAV
encode/decode (functions/codecs)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.audiofp import (
    AUDIO_DF_CAP,
    AUDIO_MIN_SHARED,
    audio_fingerprints,
    audiofp_index_probe,
    audiofp_index_upsert,
    build_audiofp_index,
    compact_audiofp_index,
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
    return encode_text_assets(df, "wav")


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


def _fps(df):
    """{doc_id: {(frame_idx, fp), ...}} via the real WAV decode path."""
    out: dict[int, set] = {}
    for r in audio_fingerprints(_assets(df), decode="wav").collect():
        out.setdefault(r.doc_id, set()).add((r.frame_idx, r.fp))
    return out


def _expected_probe(corpus_fps, probe_fps, df_cap=AUDIO_DF_CAP, bar=AUDIO_MIN_SHARED):
    """The between-form definition: cap on CORPUS df, frame-aligned
    shared-count >= bar."""
    df_count: dict[tuple, int] = {}
    for keys in corpus_fps.values():
        for k in keys:
            df_count[k] = df_count.get(k, 0) + 1
    kept = {k for k, n in df_count.items() if n <= df_cap}
    rows = []
    for p, pk in probe_fps.items():
        for c, ck in corpus_fps.items():
            if p == c:
                continue
            shared = len(pk & ck & kept)
            if shared >= bar:
                rows.append((p, c, shared))
    return sorted(rows)


def test_wav_decode_equals_raw_bytes(spark):
    """The REAL RIFF parse of an 8-bit PCM WAV yields the same sample
    stream as the raw-byte stub — fingerprints identical, so swapping
    the decoder changes no downstream result (the decode-seam
    contract)."""
    docs, _ = _corpus_and_twins(spark)
    via_wav = sorted(
        map(tuple, audio_fingerprints(_assets(docs), decode="wav").collect())
    )
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        wrap_binary_assets,
    )

    raw = wrap_binary_assets(
        docs.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "payload",
        "audio/wav",
    )
    via_raw = sorted(map(tuple, audio_fingerprints(raw).collect()))
    assert via_wav == via_raw and via_wav


def test_index_probe_matches_between_definition_and_prunes(spark, tmp_path):
    docs, twins = _corpus_and_twins(spark)
    path = str(tmp_path / "afp")
    build_audiofp_index(_assets(docs), path, decode="wav")
    probe = audiofp_index_probe(spark, path, _assets(twins))
    got = sorted((r.probe_id, r.corpus_id, r.n_shared) for r in probe.collect())
    want = _expected_probe(_fps(docs), _fps(twins))
    assert got == want and got
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    routed = [p for p in pfs if re.search(r"fp#\d+L? IN", p)]
    assert routed, plan[:3000]


def test_upsert_equals_rebuild_replay_idempotent_compaction_invisible(
    spark, tmp_path
):
    docs, twins = _corpus_and_twins(spark)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_audiofp_index(_assets(half), inc, decode="wav")
    audiofp_index_upsert(spark, inc, _assets(rest))
    build_audiofp_index(_assets(docs), full, decode="wav")

    def probe_rows(path):
        return sorted(
            (r.probe_id, r.corpus_id, r.n_shared)
            for r in audiofp_index_probe(spark, path, _assets(twins)).collect()
        )

    want = probe_rows(full)
    assert probe_rows(inc) == want and want
    audiofp_index_upsert(spark, inc, _assets(rest))  # replay: anti-joined out
    assert probe_rows(inc) == want
    compact_audiofp_index(spark, inc)
    assert probe_rows(inc) == want
    postings_root = os.path.join(index_dataset_root(inc), "postings")
    for dirpath, _, files in os.walk(postings_root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            assert n == 1, f"{dirpath} has {n} files after compaction"


def test_upsert_maintains_df_cap_and_compact_removes_hidden(spark, tmp_path):
    """A key that crosses the df cap ACROSS upserts must drop exactly as
    a fresh rebuild would drop it: identical clips share every
    (frame_idx, fp), so with df_cap=3, indexing 2 copies then upserting
    2 more pushes every shared key to df=4 > 3 — the drop list must
    pick them up (probe == rebuild-over-union), and compaction must
    physically remove the now-hidden build-time postings."""
    docs, _ = _corpus_and_twins(spark)
    base_text = docs.limit(1).collect()[0].text
    clones = spark.createDataFrame(
        [(i, base_text) for i in range(4)], "doc_id long, text string"
    )
    probe = spark.createDataFrame([(99, base_text)], "doc_id long, text string")
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_audiofp_index(
        _assets(clones.filter("doc_id < 2")), inc, df_cap=3, min_shared=1,
        decode="wav",
    )
    # before the cap crossing: the probe clip matches both indexed clones
    pre = sorted(
        (r.probe_id, r.corpus_id)
        for r in audiofp_index_probe(spark, inc, _assets(probe)).collect()
    )
    assert pre == [(99, 0), (99, 1)]
    audiofp_index_upsert(spark, inc, _assets(clones.filter("doc_id >= 2")))
    build_audiofp_index(_assets(clones), full, df_cap=3, min_shared=1, decode="wav")

    def probe_rows(path):
        return sorted(
            (r.probe_id, r.corpus_id, r.n_shared)
            for r in audiofp_index_probe(spark, path, _assets(probe)).collect()
        )

    # every shared key crossed the cap -> rebuild drops them all -> no pairs
    assert probe_rows(full) == []
    assert probe_rows(inc) == probe_rows(full)
    # hidden postings still on disk pre-compact, gone post-compact
    schema = "doc_id long, frame_idx long, fp long"

    def visible_and_raw(path):
        raw = spark.read.schema(schema).parquet(f"{index_dataset_root(path)}/postings").count()
        dropped = spark.read.parquet(f"{index_dataset_root(path)}/dropped")
        vis = (
            spark.read.schema(schema).parquet(f"{index_dataset_root(path)}/postings")
            .join(dropped, ["frame_idx", "fp"], "left_anti")
            .count()
        )
        return raw, vis

    raw_before, vis_before = visible_and_raw(inc)
    assert vis_before == 0 and raw_before > 0
    compact_audiofp_index(spark, inc)
    raw_after, vis_after = visible_and_raw(inc)
    assert raw_after == 0 and vis_after == 0
    assert probe_rows(inc) == []


def test_probe_stream_upsert_cycle(spark, tmp_path):
    """The streaming probe-then-upsert loop: batch 1's clip is admitted
    and upserted; batch 2's re-encode of it (a perturbed twin) is caught
    against the UPSERTED clip, not just the build-time corpus."""
    from kafka_streams_the_clojure_way_spark.operators.audiofp import (
        audiofp_index_probe_stream,
    )
    from kafka_streams_the_clojure_way_spark.sources.memory import drain

    docs, _ = _corpus_and_twins(spark)
    corpus = docs.filter(F.col("doc_id") < 50)
    # a clip long enough that its one-byte-perturbed twin still shares
    # >= AUDIO_MIN_SHARED frame-aligned fingerprints (>= ~8 frames)
    newdoc = docs.filter(
        (F.col("doc_id") >= 50) & (F.length("text") >= 400)
    ).limit(1)
    new_id = newdoc.collect()[0].doc_id
    path = str(tmp_path / "afp")
    build_audiofp_index(_assets(corpus), path, decode="wav")

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

    q = audiofp_index_probe_stream(
        spark, path, stream, sink,
        upsert=True, compact_every=1,
        checkpoint=str(tmp_path / "ck"),
    )
    drain(q)
    # batch 0 (the new clip) matches nothing in the build corpus;
    # batch 1 (its twin) must match the clip batch 0 UPSERTED.
    assert (new_id + 10_000_000, new_id) in got
    assert all(c != p for p, c in got)  # no self-pairs
