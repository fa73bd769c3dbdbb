"""Round-11 ADVICE regression pins:

1. (medium) the multimodal decode gate dispatches PNG by IHDR color
   type — a paletted or truecolor upload FLOWS THROUGH the permissive
   full-decode gate instead of quarantining as 'unsupported variant'
   (plans/ingestion.py decode_gate -> asset_pixel_checksum
   decode="png_any" -> functions/codecs.png_decode_auto);
2. (low) _png_decode enforces the spec's PLTE ordering (PNG 1.2
   §4.1.2): PLTE after the first IDAT and a second PLTE chunk are
   classified rejections, not silent decodes;
3. (low) compute_batch_routing survives NULL text rows (a NULL
   hash/pmod key is dropped, matching the unfused path's degrade);
4. (low) per-compile spool dirs share ONE process-wide atexit sweep
   and deregister on unpersist — no per-trigger callback leak.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_the_clojure_way_spark.functions.codecs import (
    _fixture_palette,
    classify_codec_error,
    png_decode_auto,
    png_decode_gray,
    png_decode_palette,
    png_decode_rgb,
    png_encode_gray,
    png_encode_palette,
    png_encode_rgb,
)

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _rechunk(png: bytes, mutate):
    """Re-emit a PNG's chunk stream through ``mutate(chunks) ->
    chunks`` (each chunk a (tag, body) pair), recomputing CRCs."""
    pos, chunks = 8, []
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        chunks.append((tag, png[pos + 8 : pos + 8 + length]))
        pos += 12 + length
    out = bytearray(png[:8])
    for tag, body in mutate(chunks):
        out += (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )
    return bytes(out)


def test_png_decode_auto_dispatches_by_color_type():
    data = bytes(range(200)) * 2
    gray = png_encode_gray(data)
    rgb = png_encode_rgb(data)
    pal = png_encode_palette(data)
    assert png_decode_auto(gray) == png_decode_gray(gray)
    assert png_decode_auto(rgb) == png_decode_rgb(rgb)
    assert png_decode_auto(pal) == png_decode_palette(pal)

    # alpha color types classify as 'unsupported', not a crash: flip
    # the IHDR color-type byte of a gray container to 6 (RGBA)
    def to_rgba(chunks):
        return [
            (t, b[:9] + bytes([6]) + b[10:] if t == b"IHDR" else b)
            for t, b in chunks
        ]

    with pytest.raises(ValueError, match="unsupported"):
        png_decode_auto(_rechunk(gray, to_rgba))
    try:
        png_decode_auto(_rechunk(gray, to_rgba))
    except ValueError as exc:
        assert classify_codec_error(str(exc)) == "unsupported"
    with pytest.raises(ValueError, match="bad magic"):
        png_decode_auto(b"JFIF" + gray)


def test_plte_ordering_violations_classified():
    pal = png_encode_palette(bytes(range(256)))

    def plte_after_idat(chunks):
        plte = [c for c in chunks if c[0] == b"PLTE"]
        rest = [c for c in chunks if c[0] != b"PLTE"]
        # ... IHDR IDAT PLTE IEND
        return rest[:-1] + plte + rest[-1:]

    def double_plte(chunks):
        out = []
        for t, b in chunks:
            out.append((t, b))
            if t == b"PLTE":
                out.append((t, b))
        return out

    with pytest.raises(ValueError, match="PLTE after IDAT"):
        png_decode_palette(_rechunk(pal, plte_after_idat))
    with pytest.raises(ValueError, match="duplicate PLTE"):
        png_decode_palette(_rechunk(pal, double_plte))
    for broken in (
        _rechunk(pal, plte_after_idat),
        _rechunk(pal, double_plte),
    ):
        try:
            png_decode_palette(broken)
        except ValueError as exc:
            assert classify_codec_error(str(exc)) == "decode_error"


def test_decode_gate_accepts_every_supported_png_color_type(spark):
    """A paletted (and truecolor, and Adam7-gray) asset flows THROUGH
    the multimodal ingestion decode gate un-quarantined, with its
    checksum pinned to the decoded RGB stream; a corrupted paletted
    asset still dies at the gate (ADVICE r10 medium)."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets,
    )
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        multimodal_ingestion_topology,
    )

    texts = {
        1: "gray asset payload",
        2: "truecolor asset payload",
        3: "paletted asset payload",
        4: "interlaced asset payload",
        5: "corrupt paletted payload",
    }

    def enc(i, codec):
        return encode_text_assets(
            spark.createDataFrame([(i, texts[i])], SCHEMA), codec
        )

    clean = (
        enc(1, "png")
        .unionByName(enc(2, "png_rgb"))
        .unionByName(enc(3, "png_palette"))
        .unionByName(enc(4, "png_adam7"))
    )
    # corrupt paletted container: truncate the tail (kills IEND)
    corrupt = enc(5, "png_palette").withColumn(
        "asset",
        F.struct(
            F.expr("substring(asset.bytes, 1, 40)").alias("bytes"),
            F.col("asset.mime").alias("mime"),
            F.col("asset.width").alias("width"),
            F.col("asset.height").alias("height"),
            F.col("asset.n_frames").alias("n_frames"),
            F.col("asset.sample_rate").alias("sample_rate"),
        ),
    ).withColumn("doc_id", F.lit(5).cast("long"))
    corrupt = corrupt.select(*clean.columns)

    caches: list = []
    topo = multimodal_ingestion_topology(
        spark,
        image_index_path="/nonexistent/img",
        audio_index_path="/nonexistent/aud",
        video_index_path="/nonexistent/vid",
        cache_registry=caches,
    )
    gate = topo["entities"]["stream/decode-gate"]["xform"]
    out = gate(clean.unionByName(corrupt))
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}, "corrupt asset must quarantine"

    pal_rgb = png_decode_auto(
        _collect_payload(enc(3, "png_palette"))
    )
    assert rows[3].n_pix == len(pal_rgb)
    assert rows[3].pix_sum == sum(pal_rgb)
    rgb = png_decode_auto(_collect_payload(enc(2, "png_rgb")))
    assert rows[2].n_pix == len(rgb)
    assert rows[2].pix_sum == sum(rgb)
    # gray and Adam7-gray decode to the padded text bytes
    assert rows[1].n_pix == 64 and rows[4].n_pix == 64
    for fr in caches:
        fr.unpersist()


def _collect_payload(asset_df) -> bytes:
    return bytes(asset_df.select("asset.bytes").collect()[0][0])


def test_fixture_palette_nontrivial():
    """The paletted gate pin above is only meaningful if a skipped PLTE
    lookup would move the checksum — the fixture palette must not be a
    grayscale ramp."""
    pal = _fixture_palette()
    assert any(
        pal[3 * i] != pal[3 * i + 1] or pal[3 * i + 1] != pal[3 * i + 2]
        for i in range(256)
    )


def test_batch_routing_tolerates_null_text(spark):
    """A NULL text row must not crash the fused routing collect
    (int(None) in compute_batch_routing) — its keys are dropped, which
    is output-identical: a NULL bucket can never match a partition."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_hash_index,
    )
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        compute_batch_routing,
    )
    import tempfile

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, None), (3, "x y")],
        SCHEMA,
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/hash_idx"
        build_hash_index(docs.filter(F.col("text").isNotNull()), path)
        topo = {
            "routing": {
                "id_col": "doc_id",
                "text": "text",
                "hash_index_path": path,
            }
        }
        routing = compute_batch_routing(spark, topo, docs)
        assert "hash_buckets" in routing
        assert all(isinstance(k, int) for k in routing["hash_buckets"])


def test_spool_atexit_registry_deregisters():
    from kafka_streams_the_clojure_way_spark import artifacts as A
    from kafka_streams_the_clojure_way_spark.plans import ingestion as I

    before = set(A._LIVE_SCRATCH)
    d = A.scratch_dir("ingest_spool_test_")
    assert d in A._LIVE_SCRATCH
    I._SpoolDir(d).unpersist()
    assert d not in A._LIVE_SCRATCH
    assert A._LIVE_SCRATCH == before


# ---------------------------------------------------------------------------
# r11 codec tail: Y4M C422/C444 luma + 24-bit WAV (VERDICT r10 #5)
# ---------------------------------------------------------------------------

def test_wav_pcm24_roundtrip_and_stereo_matches_pcm16_reduction():
    from kafka_streams_the_clojure_way_spark.functions.codecs import (
        wav_decode_pcm,
        wav_encode_pcm16,
        wav_encode_pcm24,
    )

    data = bytes(range(256)) + b"hello 24-bit world"
    # mono: exact byte round-trip through the 24-bit quantizer
    assert wav_decode_pcm(wav_encode_pcm24(data, channels=1)) == data
    # stereo: SAME pairwise byte average as the 16-bit profile — the
    # invariant that lets a mixed 16/24-bit corpus share one oracle
    assert wav_decode_pcm(wav_encode_pcm24(data, channels=2)) == wav_decode_pcm(
        wav_encode_pcm16(data, channels=2)
    )


def test_wav_unsupported_geometry_classified():
    import io
    import wave

    from kafka_streams_the_clojure_way_spark.functions.codecs import (
        classify_codec_error,
        wav_decode_pcm,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)  # 32-bit: outside the supported profile
        w.setframerate(8000)
        w.writeframes(b"\x00" * 32)
    with pytest.raises(ValueError, match="unsupported WAV geometry"):
        wav_decode_pcm(buf.getvalue())
    try:
        wav_decode_pcm(buf.getvalue())
    except ValueError as exc:
        assert classify_codec_error(str(exc)) == "unsupported"


def test_y4m_c422_c444_luma_matches_mono():
    from kafka_streams_the_clojure_way_spark.functions.codecs import (
        Y4M_FRAME_LEN,
        y4m_decode_frames,
        y4m_encode_video,
        y4m_parse_meta,
    )

    data = b"the quick brown fox jumps over the lazy dog " * 5
    pad = (-len(data)) % Y4M_FRAME_LEN
    padded = data + b" " * pad
    mono = b"".join(y4m_decode_frames(y4m_encode_video(data)))
    assert mono == padded
    for cspace in ("420", "422", "444"):
        got = b"".join(
            y4m_decode_frames(y4m_encode_video(data, cspace=cspace))
        )
        assert got == padded, f"C{cspace} luma diverged from Cmono"
    # header-walk geometry: 422 halves W/doubles H, 444 keeps mono's
    assert y4m_parse_meta(y4m_encode_video(data, cspace="422"))[:2] == (
        Y4M_FRAME_LEN // 2, 2,
    )
    assert y4m_parse_meta(y4m_encode_video(data, cspace="444"))[:2] == (
        Y4M_FRAME_LEN, 1,
    )


def test_y4m_c422_c444_corruptions_classified():
    from kafka_streams_the_clojure_way_spark.functions.codecs import (
        classify_codec_error,
        y4m_decode_frames,
        y4m_encode_video,
    )

    data = b"some luma payload bytes for the corruption cases here"
    # odd-W C422 is a classified rejection
    bad_422 = y4m_encode_video(data, cspace="422").replace(
        b"W32 H2", b"W31 H2", 1
    )
    with pytest.raises(ValueError, match="C422 geometry"):
        y4m_decode_frames(bad_422)
    # a C444 frame missing its chroma tail IS truncated
    full = y4m_encode_video(data, cspace="444")
    with pytest.raises(ValueError, match="truncated"):
        y4m_decode_frames(full[:-10])
    # an unknown colorspace stays loud
    alien = y4m_encode_video(data).replace(b"Cmono", b"C411", 1)
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        y4m_decode_frames(alien)
    for broken, kind in (
        (bad_422, "unsupported"),
        (full[:-10], "truncated"),
        (alien, "unsupported"),
    ):
        try:
            y4m_decode_frames(broken)
        except ValueError as exc:
            assert classify_codec_error(str(exc)) == kind


def test_spark_round6_array_matches_spark_round(spark):
    """The kcenter local path's vectorized rounding must reproduce
    Spark's round(x, 6) (BigDecimal HALF_UP on shortest repr) exactly,
    including near-boundary and negative values."""
    import numpy as np
    import pyspark.sql.functions as F

    from kafka_streams_the_clojure_way_spark.operators.similarity import (
        _spark_round6_array,
    )

    vals = [
        0.0, 1.0, 0.1234565, 0.1234575, 0.12345649999, 0.1234565000001,
        -0.1234565, -0.1234575, 1.9999995, 0.0000005, -0.0000005,
        0.6770344999999999, 1.0000004999999999, 2e-7, 1e-9, -1e-9,
        0.9999994999999999, 123.4567895, float("nan"), float("inf"),
        float("-inf"), 1.5e-06, 2.5e-06, -2.5e-06,
    ]
    got = _spark_round6_array(np.array(vals, dtype=np.float64))
    rows = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i int, x double"
    ).select("i", F.round("x", 6).alias("r")).collect()
    want = {r["i"]: r["r"] for r in rows}
    for i, v in enumerate(vals):
        g, w = float(got[i]), want[i]
        assert (g != g and w != w) or g == w, (i, vals[i], g, w)


def test_kcenter_local_path_matches_distributed(spark, monkeypatch):
    """The size-gated driver chain and the distributed incremental-min
    loop must pick identical (id, pick) sequences."""
    from kafka_streams_the_clojure_way_spark.operators import similarity as S
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    local = sorted(
        tuple(r) for r in S.kcenter_coreset(emb, k=5).collect()
    )
    monkeypatch.setattr(S, "KCENTER_LOCAL_MAX_ROWS", 0)
    dist = sorted(
        tuple(r) for r in S.kcenter_coreset(emb, k=5).collect()
    )
    assert local == dist and len(local) == 5


def test_asset_decode_gate_matches_leg_composition(spark):
    """The fused decode gate (one mapInPandas, per-mime dispatch, asset
    pass-through) must be row-identical to the per-modality
    filter + asset_pixel_checksum(permissive) + inner-join composition
    it replaced — survivors, checksums, quarantine drops, and
    unknown-mime drops alike."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_decode_gate,
        asset_pixel_checksum,
        corrupt_assets,
        encode_text_assets,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    img = corrupt_assets(
        encode_text_assets(docs.filter(F.col("doc_id") % 4 == 0), "png")
    )
    aud = encode_text_assets(docs.filter(F.col("doc_id") % 4 == 1), "wav")
    vid = encode_text_assets(docs.filter(F.col("doc_id") % 4 == 2), "y4m")
    # unknown mime: must drop in both paths
    odd = encode_text_assets(docs.filter(F.col("doc_id") % 4 == 3), "wav").withColumn(
        "asset",
        F.struct(
            F.col("asset.bytes").alias("bytes"),
            F.lit("application/x-unknown").alias("mime"),
            F.col("asset.width").alias("width"),
            F.col("asset.height").alias("height"),
            F.col("asset.n_frames").alias("n_frames"),
            F.col("asset.sample_rate").alias("sample_rate"),
        ),
    )
    batch = img.unionByName(aud).unionByName(vid).unionByName(odd)
    decoders = {"image/png": "png_any", "audio/wav": "wav", "video/x-yuv4mpeg": "y4m"}

    fused = asset_decode_gate(batch, decoders)
    mime = F.col("asset").getField("mime")
    parts = [
        asset_pixel_checksum(batch.filter(mime == m), decode=dec, mode="permissive")
        for m, dec in decoders.items()
    ]
    checks = parts[0].unionByName(parts[1]).unionByName(parts[2])
    ok = checks.filter(F.col("status") == "ok").select("doc_id", "n_pix", "pix_sum")
    legacy = batch.join(ok, "doc_id")

    cols = ["doc_id", "n_pix", "pix_sum"]
    got = sorted(tuple(r) for r in fused.select(*cols).collect())
    want = sorted(tuple(r) for r in legacy.select(*cols).collect())
    assert got == want and len(got) > 0
    # the pass-through asset must be byte-identical to the input's
    keep = {r["doc_id"]: bytes(r["asset"]["bytes"]) for r in fused.collect()}
    orig = {
        r["doc_id"]: bytes(r["asset"]["bytes"])
        for r in batch.collect()
        if r["doc_id"] in keep
    }
    assert keep == orig


def test_pagerank_local_path_matches_distributed(spark, monkeypatch):
    """The size-gated driver-local fixed-point chain must reproduce the
    distributed 6-round loop bit-for-bit (all-integer arithmetic)."""
    from kafka_streams_the_clojure_way_spark.operators import graph as G
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    op = (
        li.filter(F.col("l_orderkey") % 8 == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .dropDuplicates()
    )
    a, b = op.alias("a"), op.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .dropDuplicates()
    )
    edges = und.selectExpr("u AS src", "v AS dst").unionAll(
        und.selectExpr("v AS src", "u AS dst")
    )
    local = sorted(tuple(r) for r in G.pagerank(edges).collect())
    monkeypatch.setattr(G, "PR_LOCAL_MAX_EDGES", 0)
    dist = sorted(tuple(r) for r in G.pagerank(edges).collect())
    assert local == dist and len(local) > 0


def test_encode_text_assets_by_matches_leg_union(spark):
    """The per-row-codec fixture encoder must be row-identical (payload
    bytes included) to the filter-per-codec + union composition — with
    and without the fused png corruption pass."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        corrupt_assets,
        encode_text_assets,
        encode_text_assets_by,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    case = F.expr(
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' "
        "ELSE CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'y4m' "
        "WHEN 1 THEN 'y4m420' WHEN 2 THEN 'y4m422' ELSE 'y4m444' END END"
    )

    def snap(df):
        return sorted(
            (r["doc_id"], bytes(r["asset"]["bytes"]), r["asset"]["mime"])
            for r in df.collect()
        )

    legacy_vid = None
    for m, codec in enumerate(["y4m", "y4m420", "y4m422", "y4m444"]):
        leg = encode_text_assets(
            docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 4 == m)),
            codec,
        )
        legacy_vid = leg if legacy_vid is None else legacy_vid.unionByName(leg)
    legacy = (
        corrupt_assets(
            encode_text_assets(docs.filter(F.col("doc_id") % 3 == 0), "png")
        )
        .unionByName(
            encode_text_assets(docs.filter(F.col("doc_id") % 3 == 1), "wav")
        )
        .unionByName(legacy_vid)
    )
    fused = encode_text_assets_by(
        docs.withColumn("__codec", case), "__codec", corrupt_png=True
    )
    assert snap(fused) == snap(legacy) and fused.count() == docs.count()


def test_transcode_checksum_matches_chain(spark):
    """The fused transcode+checksum kernel must equal the
    resize_assets -> asset_pixel_checksum(decode='png') composition."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_pixel_checksum,
        encode_text_assets,
        resize_assets,
        transcode_checksum_assets,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assets = encode_text_assets(docs, "png")
    fused = transcode_checksum_assets(assets, 16, 16)
    legacy = asset_pixel_checksum(
        resize_assets(assets, 16, 16, codec="png"), decode="png"
    )
    got = sorted(tuple(r) for r in fused.collect())
    want = sorted(tuple(r) for r in legacy.collect())
    assert got == want and len(got) > 0


def test_read_static_schema_sees_appends_and_rebuilds(spark, tmp_path):
    """The r11 listing-token DataFrame cache must NEVER serve a stale
    file set: an append (new part-file) and an in-place rewrite both
    flip the token and force a fresh listing; an unchanged dataset
    serves the cached frame."""
    from kafka_streams_the_clojure_way_spark.sources import files as SF

    p = str(tmp_path / "ds")
    spark.range(5).write.parquet(p)
    df1 = SF.read_static_schema(spark, p)
    assert df1.count() == 5
    # unchanged dataset -> same cached frame object
    assert SF.read_static_schema(spark, p) is df1
    # append must be visible immediately
    spark.range(5, 8).write.mode("append").parquet(p)
    df2 = SF.read_static_schema(spark, p)
    assert df2 is not df1 and df2.count() == 8
    # explicit invalidation drops the cached frame too
    SF.invalidate_static_schema(p)
    df3 = SF.read_static_schema(spark, p)
    assert df3 is not df2 and df3.count() == 8
