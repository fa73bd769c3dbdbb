"""Perceptual image hashing + Hamming-banded near-dup dedup — the image
leg of the dedup tier (SURVEY.md §7 M5 multimodal x the §2.4 index
families). Text has six persisted index families; this module gives the
image modality the same treatment: a deterministic integer pHash over
the gated decode path, a banded (never all-pairs) pair join, and a
persisted band index with the build/probe/upsert/compact lifecycle of
``operators/dedup.build_minhash_index``.

pHash variant (deterministic-integer by construction, so the DuckDB
oracle can recompute it bit-for-bit):

1. sample the decoded pixel stream to an 8x8 grid by nearest-neighbor:
   ``pix[k] = byte[(k * n) // 64]`` (the stub decoder's "pixels" ARE the
   payload bytes; a real build decodes to grayscale first — the
   downsample/DCT/threshold pipeline is the real pHash kernel either
   way, cf. Zauner, "Implementation and Benchmarking of Perceptual
   Image Hash Functions", 2010);
2. 2D DCT-II with a FIXED-POINT integer coefficient table
   ``C[u][x] = round(2^14 * cos((2x+1) u pi / 16))`` — exact int64
   arithmetic, identical in numpy and SQL (max |term| < 2^42);
3. drop the DC coefficient, threshold the 63 AC coefficients at their
   lower median (rank-32 smallest — deterministic under ties because
   the THRESHOLD VALUE is rank-selected, not a tie-broken row);
4. bit ``k-1`` (k = u*8+v, 1..63) set iff ``coef > median`` — a 63-bit
   signature that stays positive in signed int64 on both engines.

Hamming banding: 9 bands x 7 bits over the 63-bit hash. Pigeonhole: any
pair within Hamming distance 8 shares >= 1 identical band, so with the
default ``max_dist=8`` the banded join is LOSSLESS — candidates come
from band equi-joins, popcount-on-xor verifies, and no all-pairs product
exists anywhere (the ``operators/dedup.simhash_pairs`` shape applied to
image signatures).

Scale notes (100 TB): signatures are 8 bytes/image — the banding table
is negligible next to payload bytes; the persisted index routes each
probe batch's distinct (band, bkey) keys into a literal PartitionFilter
so per-batch probe cost is O(batch + matching postings), independent of
corpus size; the verify join moves only (id, 8-byte sig) pairs.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators.dedup import (
    IndexDataset,
    _in_literals,
    _index_meta,
    build_index,
    compact_index,
    index_dataset_root,
    index_upsert,
    routing_keys,
    serve_index_stream,
)
from kafka_streams_the_clojure_way_spark.sources.files import (
    read_static_schema,
    with_min_parallelism,
)

PHASH_GRID = 8
PHASH_SCALE = 1 << 14
PHASH_BITS = PHASH_GRID * PHASH_GRID - 1  # 63: DC dropped, sign bit never set
PHASH_BANDS = 9
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS  # 7
PHASH_MAX_DIST = PHASH_BANDS - 1  # 8: pigeonhole => banding is lossless
#: directories per band in the persisted index: bkey hashes into buckets
#: (the minhash/video layout) instead of one directory per 7-bit key —
#: 9 x 16 = 144 dirs vs the former 1152, whose tiny-file listing cost
#: dominated every full-index scan (measured 4.1 s to read 40k rows).
#: bkey stays a DATA column: the probe's candidate join still resolves
#: it exactly; the partition filter just routes (band, bucket).
PHASH_INDEX_BUCKETS = 16

#: fixed-point DCT-II coefficients, shared verbatim (as integer literals)
#: by the numpy kernel and the generated oracle SQL — no float crosses an
#: engine boundary.
DCT_COEF: tuple[tuple[int, ...], ...] = tuple(
    tuple(
        round(PHASH_SCALE * math.cos((2 * x + 1) * u * math.pi / (2 * PHASH_GRID)))
        for x in range(PHASH_GRID)
    )
    for u in range(PHASH_GRID)
)

_MEDIAN_RANK = (PHASH_BITS + 1) // 2  # 32: lower median of 63 AC coeffs


def phash_assets(
    df: DataFrame,
    id_col: str = "doc_id",
    decode: str | None = None,
    *,
    mode: str = "strict",
) -> DataFrame:
    """(id, phash) per asset via one Arrow-batched mapInPandas kernel —
    vectorized across the batch: all payloads concatenate into ONE uint8
    buffer, the 8x8 grids gather with a single fancy-index, and the DCT
    is one (batch, 8, 8) einsum in int64. The only per-row Python is
    collecting the variable-length payload references (same contract as
    ``multimodal.extract_features``).

    ``decode=None`` hashes the raw payload bytes as the pixel stream
    (the stub convention); ``decode="png"`` runs every payload through
    the REAL stdlib PNG decoder (``functions/codecs.png_decode_gray``:
    chunk CRCs, inflate, all five scanline filters) and hashes the
    DECODED pixels — same plan, same downstream banding, and still
    bit-exact against the DuckDB oracle because 8-bit grayscale decode
    round-trips the payload (plus the documented space-pad).

    ``mode="permissive"``: per-asset decode ``ValueError``s quarantine
    the row (phash=-1, ``status``/``error_kind`` columns — the
    ``multimodal.asset_pixel_checksum`` contract) instead of failing
    the stage; clean assets hash bit-identically in both modes. The
    -1 sentinel can never collide with a real signature (bit 63 is
    never set, so real hashes are in [0, 2^63))."""
    import numpy as np
    import pandas as pd

    if decode not in (None, "png"):
        raise ValueError(f"decode must be None or 'png', got {decode!r}")
    if mode not in ("strict", "permissive"):
        raise ValueError(f"mode must be 'strict' or 'permissive', got {mode!r}")
    permissive = mode == "permissive"
    C = np.asarray(DCT_COEF, dtype=np.int64)
    grid2 = PHASH_GRID * PHASH_GRID

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from kafka_streams_the_clojure_way_spark.functions.codecs import (
            classify_codec_error,
        )

        if decode == "png":
            from kafka_streams_the_clojure_way_spark.functions.codecs import (
                png_decode_gray_batch,
            )

            def unwrap_batch(raws, errors="raise"):
                return png_decode_gray_batch(raws, errors)

        else:

            def unwrap_batch(raws, errors="raise"):
                return [bytes(r) for r in raws], [None] * len(raws)

        for pdf in batches:
            raws = [a["bytes"] for a in pdf["asset"].values]
            kinds: list[str | None] = []
            if permissive:
                streams, errs = unwrap_batch(raws, errors="capture")
                payloads = [
                    s if e is None else b"" for s, e in zip(streams, errs)
                ]
                kinds = [
                    None if e is None else classify_codec_error(str(e))
                    for e in errs
                ]
            else:
                payloads, _ = unwrap_batch(raws, errors="raise")
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            k = np.arange(grid2, dtype=np.int64)
            # nearest-neighbor downsample; empty payloads read as zeros
            idx = offs[:, None] + (k[None, :] * lens[:, None]) // grid2
            # keep the (batch, 64) grid shape even when EVERY payload in
            # the batch is empty (buf.size == 0): a scalar 0 branch would
            # collapse np.where's broadcast to the condition's shape
            gathered = (
                buf[np.minimum(idx, buf.size - 1)]
                if buf.size
                else np.zeros_like(idx)
            )
            pix = np.where(lens[:, None] > 0, gathered, 0).astype(np.int64)
            P = pix.reshape(-1, PHASH_GRID, PHASH_GRID)
            D = np.einsum("ui,bij,vj->buv", C, P, C, dtype=np.int64)
            flat = D.reshape(-1, grid2)[:, 1:]  # drop DC; flat[j] = coef k=j+1
            med = np.partition(flat, _MEDIAN_RANK - 1, axis=1)[:, _MEDIAN_RANK - 1]
            bits = (flat > med[:, None]).astype(np.int64)
            powers = np.left_shift(np.int64(1), np.arange(PHASH_BITS, dtype=np.int64))
            ph = (bits * powers[None, :]).sum(axis=1)
            cols = {id_col: pdf[id_col].values, "phash": ph}
            if permissive:
                bad = np.array([k is not None for k in kinds], dtype=bool)
                cols["phash"] = np.where(bad, -1, ph)
                cols["status"] = np.where(bad, "quarantined", "ok")
                cols["error_kind"] = [k if k is not None else "ok" for k in kinds]
            yield pd.DataFrame(cols)

    schema = f"{id_col} long, phash long"
    if permissive:
        schema += ", status string, error_kind string"
    return df.select(id_col, "asset").mapInPandas(kernel, schema=schema)


def phash_sql(table: str = "documents", id_col: str = "doc_id", text: str = "text") -> str:
    """DuckDB twin of :func:`phash_assets` for the stub decode path
    (payload = UTF-8 bytes of ``text``; the corpus is ASCII, so code
    points ARE bytes — the ``multimodal_feature_histogram`` convention).
    Returns a sub-SELECT producing (id_col, phash)."""
    coef_rows = ", ".join(
        f"({u}, {x}, {c})"
        for u, row in enumerate(DCT_COEF)
        for x, c in enumerate(row)
    )
    grid2 = PHASH_GRID * PHASH_GRID
    return f"""(
    WITH px AS (
        SELECT {id_col} AS pid, k.g AS k,
               CASE WHEN octet_length(CAST({text} AS BLOB)) = 0 THEN 0
                    ELSE unicode(substr({text},
                         1 + CAST((k.g * octet_length(CAST({text} AS BLOB))) // {grid2} AS INT),
                         1)) END AS pix
        FROM {table}, generate_series(0, {grid2 - 1}) k(g)
    ),
    coef(u, x, c) AS (VALUES {coef_rows}),
    dct AS (
        SELECT p.pid, cu.u AS u, cv.u AS v,
               SUM(CAST(p.pix AS BIGINT) * cu.c * cv.c) AS val
        FROM px p
        JOIN coef cu ON cu.x = p.k // {PHASH_GRID}
        JOIN coef cv ON cv.x = p.k % {PHASH_GRID}
        GROUP BY 1, 2, 3
    ),
    ac AS (
        SELECT pid, u * {PHASH_GRID} + v AS k, val
        FROM dct WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (
        SELECT pid, val AS medval FROM (
            SELECT pid, val,
                   row_number() OVER (PARTITION BY pid ORDER BY val) AS rn
            FROM ac
        ) WHERE rn = {_MEDIAN_RANK}
    )
    SELECT a.pid AS {id_col},
           SUM(CASE WHEN a.val > m.medval
                    THEN (1::BIGINT << (a.k - 1)) ELSE 0 END) AS phash
    FROM ac a JOIN med m USING (pid) GROUP BY a.pid
)"""


def _band_bits(n_bands: int) -> int:
    """Band width for ``n_bands`` — the recall/cost dial. 9 bands x 7
    bits is lossless up to distance 8 but each band key has only 128
    values, so the per-band candidate join is quadratic-over-128ths — a
    demo-scale setting. A 1e9+-image corpus wants FEWER, WIDER bands
    with a tighter distance (3 bands x 21 bits, lossless to d=2): 2^21
    key values shrink band collisions by ~4 orders of magnitude and the
    pigeonhole guarantee still holds."""
    if PHASH_BITS % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide {PHASH_BITS} (use 1, 3, 7, 9, 21, 63)"
        )
    return PHASH_BITS // n_bands


def _band_structs(sig_col, n_bands: int):
    """Exploded (band, bkey) structs for ``sig_col``. Built as ONE
    ``F.expr`` string when handed a column NAME (r11: the per-band
    Column-op construction was ~54 py4j round trips per call — a
    measured slice of every probe/build compile; the parsed expression
    tree is identical, band stays int and bkey long exactly like the
    ``F.lit``/``bitwiseAND`` form)."""
    bits = _band_bits(n_bands)
    mask = (1 << bits) - 1
    if isinstance(sig_col, str):
        parts = ", ".join(
            f"struct({b} AS band, "
            f"(shiftrightunsigned({sig_col}, {b * bits}) & {mask}) AS bkey)"
            for b in range(n_bands)
        )
        return F.explode(F.expr(f"array({parts})"))
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(sig_col, b * bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("bkey"),
                )
                for b in range(n_bands)
            ]
        )
    )


def _banded(sigs: DataFrame, id_col: str, n_bands: int = PHASH_BANDS) -> DataFrame:
    return sigs.select(
        id_col, "phash", _band_structs("phash", n_bands).alias("bk")
    ).select(
        id_col, "phash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def phash_pairs(
    assets: DataFrame,
    id_col: str = "doc_id",
    max_dist: int = PHASH_MAX_DIST,
    n_bands: int = PHASH_BANDS,
    decode: str | None = None,
    cache_registry: list | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Image near-dup pairs (id_a < id_b, hamming): banded candidate
    join over the 63-bit pHash, popcount-on-xor verify — lossless for
    ``max_dist <= n_bands - 1`` by pigeonhole, so the output equals
    the all-pairs definition without an all-pairs product. The hamming
    filter runs BEFORE the pair-distinct (the simhash_pairs lesson:
    popcount is free per row, distinct is a shuffle). ``n_bands`` is
    the scale dial — see :func:`_band_bits`. The signature frame is
    cached (it feeds both join sides); pass ``cache_registry`` to own
    its unpersist (the ``minhash_index_probe`` lifecycle contract) so
    long-lived sessions don't accumulate executor cache blocks.
    ``sigs``: a precomputed (id, phash) frame — the shared materialized
    signature-table pattern (compute/decode once per corpus, band per
    consumer); when given, ``assets``/``decode`` are ignored and the
    caller owns the frame's lifecycle (a parquet-backed table re-scans
    cheaply, no cache needed)."""
    if max_dist > n_bands - 1:
        raise ValueError(
            f"max_dist={max_dist} breaks the {n_bands}-band pigeonhole "
            f"guarantee (lossless only up to {n_bands - 1})"
        )
    if sigs is None:
        sigs = phash_assets(with_min_parallelism(assets), id_col, decode).cache()
        if cache_registry is not None:
            cache_registry.append(sigs)
    banded = _banded(sigs, id_col, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.phash").alias("ph_a"),
        F.col("b.phash").alias("ph_b"),
    )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# Video near-dup: per-frame pHash over the demuxed PGM container
# --------------------------------------------------------------------------

#: synthetic frame-id encoding: fid = video_id * VIDEO_FID_BASE +
#: frame_idx. Guarded at runtime (see video_frame_phashes) — a video
#: with >= 1e6 frames (norm-rate: ~9 hours at 30 fps) or an id near
#: 2^63/1e6 would silently collide otherwise.
VIDEO_FID_BASE = 1_000_000

#: video banding default: 3 bands x 21 bits (lossless to Hamming 2 by
#: pigeonhole). Wider/fewer than the image default on purpose — the
#: video join key is (frame_idx, band, bkey) over MANY frames per
#: asset, so the 7-bit image bands' 128-value key space would make
#: every bucket quadratic; 2^21 keys keep band collisions ~4 orders of
#: magnitude rarer (the scale dial documented at _band_bits).
VIDEO_BANDS = 3
VIDEO_MAX_DIST = VIDEO_BANDS - 1  # 2

#: a video pair needs >= this many aligned sampled frames within
#: distance. One corrupted byte disturbs at most one frame, so genuine
#: re-encodes keep nearly all frames at Hamming 0; unrelated videos
#: essentially never align a 21-bit band per frame.
VIDEO_MIN_FRAMES = 2


def video_frame_phashes(
    assets: DataFrame,
    id_col: str = "doc_id",
    stride: int = 5,
) -> DataFrame:
    """(id, frame_idx, phash) for every ``stride``-th frame of each
    video asset: demux the container through the REAL parser —
    ``multimodal.sample_frames(container="auto")`` dispatches on each
    asset's mime (YUV4MPEG2 or concatenated-P5), the production shape
    for mixed-container corpora — then run
    the standard pHash kernel over the frame pixels. The two
    mapInPandas stages compose without a shuffle (both are per-row);
    the frame id is packed as video_id * VIDEO_FID_BASE + frame_idx
    with a loud in-plan guard against overflow/collision (the
    line_occurrences lesson: a silent key collision mis-attributes
    matches)."""
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        sample_frames,
        wrap_binary_assets,
    )

    frames = sample_frames(assets, id_col=id_col, stride=stride, container="auto")
    in_range = (F.col("frame_idx") < VIDEO_FID_BASE) & (
        F.abs(F.col(id_col)) < (1 << 62) // VIDEO_FID_BASE
    )
    # assert_true returns NULL on success, errors loud on violation —
    # the packed key is only ever computed under a checked range.
    guard = F.when(
        F.assert_true(in_range, F.lit("video fid overflow/collision")).isNull(),
        F.col(id_col) * VIDEO_FID_BASE + F.col("frame_idx"),
    )
    framed = wrap_binary_assets(
        frames.select(guard.alias("fid"), "frame_bytes"),
        "frame_bytes",
        "image/x-raw-gray",
    )
    sigs = phash_assets(framed, "fid")
    return sigs.select(
        F.expr(f"fid DIV {VIDEO_FID_BASE}").alias(id_col),
        (F.col("fid") % VIDEO_FID_BASE).alias("frame_idx"),
        "phash",
    )


def video_phash_pairs(
    assets: DataFrame,
    id_col: str = "doc_id",
    stride: int = 5,
    max_dist: int = VIDEO_MAX_DIST,
    n_bands: int = VIDEO_BANDS,
    min_frames: int = VIDEO_MIN_FRAMES,
    cache_registry: list | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Video near-dup pairs (id_a < id_b, n_close_frames): per-frame
    pHash signatures band-join on (frame_idx, band, bkey) — candidates
    must collide at the SAME sampled position, the bar a re-encode of
    the same video clears — popcount-verify at ``max_dist`` (lossless
    per frame by pigeonhole for max_dist <= n_bands - 1), dedup to one
    row per (pair, frame), and keep pairs with >= ``min_frames`` close
    aligned frames. The frame-aligned key joins the banding guarantee
    of phash_pairs with the positional discipline of audio_fp_pairs;
    output equals the all-pairs per-frame definition exactly, computed
    without any all-pairs product."""
    if max_dist > n_bands - 1:
        raise ValueError(
            f"max_dist={max_dist} breaks the {n_bands}-band pigeonhole "
            f"guarantee (lossless only up to {n_bands - 1})"
        )
    # a precomputed (id, frame_idx, phash) frame (the shared
    # materialized signature-table pattern) skips demux+hash entirely;
    # parquet-backed inputs re-scan cheaply, no cache needed
    if sigs is None:
        sigs = video_frame_phashes(
            with_min_parallelism(assets), id_col, stride=stride
        ).cache()
        if cache_registry is not None:
            cache_registry.append(sigs)
    banded = sigs.select(
        id_col,
        "frame_idx",
        "phash",
        _band_structs("phash", n_bands).alias("bk"),
    ).select(
        id_col,
        "frame_idx",
        "phash",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.frame_idx") == F.col("b.frame_idx"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.frame_idx").alias("frame_idx"),
        F.col("a.phash").alias("ph_a"),
        F.col("b.phash").alias("ph_b"),
    )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_dist)
        .dropDuplicates(["id_a", "id_b", "frame_idx"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_close_frames"))
        .filter(F.col("n_close_frames") >= min_frames)
    )


def video_phash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    frame_len: int = 64,
    stride: int = 5,
    max_dist: int = VIDEO_MAX_DIST,
    min_frames: int = VIDEO_MIN_FRAMES,
    prelude_ctes: str = "",
    pad_frames: bool = False,
) -> str:
    """DuckDB twin of :func:`video_phash_pairs` — the ALL-PAIRS
    per-aligned-frame definition (banding is lossless per frame at this
    distance). Frames are reproduced with substring arithmetic because
    frame pixels round-trip the encoder's input chunks exactly;
    ``pad_frames=True`` adds the Y4M container's space-pad on the final
    partial frame (fixed-size frames per the stream header)."""
    n = f"octet_length(CAST({text} AS BLOB))"
    fexpr = f"substring({text}, CAST(t.idx * {frame_len} + 1 AS INT), {frame_len})"
    if pad_frames:
        fexpr = f"rpad({fexpr}, {frame_len}, ' ')"
    return f"""
    WITH {prelude_ctes} vframes AS (
        SELECT {id_col} * {VIDEO_FID_BASE} + t.idx AS fid,
               {fexpr}
                   AS ftext
        FROM {table},
             unnest(range(0, ({n} + {frame_len} - 1) // {frame_len}, {stride}))
                 AS t(idx)
    ),
    fsigs AS (
        SELECT fid // {VIDEO_FID_BASE} AS vid,
               fid % {VIDEO_FID_BASE} AS frame_idx,
               phash
        FROM {phash_sql('vframes', 'fid', 'ftext')} s
    ),
    close_frames AS (
        SELECT a.vid AS id_a, b.vid AS id_b, a.frame_idx
        FROM fsigs a JOIN fsigs b
          ON a.frame_idx = b.frame_idx AND a.vid < b.vid
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_dist}
    )
    SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_close_frames
    FROM close_frames GROUP BY 1, 2 HAVING COUNT(*) >= {min_frames}
    """


# --------------------------------------------------------------------------
# Persisted pHash band index: build / probe / upsert / compact
# --------------------------------------------------------------------------

#: ``bands`` one file per (band, bucket) directory, rows unchanged.
PHASH_LAYOUT = (IndexDataset("bands", ("band", "bucket")),)


def _phash_datasets(assets, id_col, n_bands, n_buckets, decode, pin):
    """:data:`PHASH_LAYOUT`'s bands rows for ``assets``: (id, phash,
    band, bkey, bucket = pmod(bkey, n_buckets)) per (image, band)."""
    banded = _banded(phash_assets(assets, id_col, decode), id_col, n_bands)
    return (pin(banded.withColumn("bucket", F.pmod(F.col("bkey"), F.lit(n_buckets)))),)


def build_phash_index(
    corpus_assets: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    n_bands: int = PHASH_BANDS,
    decode: str | None = None,
    n_buckets: int = PHASH_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus side of the image near-dup gate — the same
    build/serve split as ``dedup.build_minhash_index``:

    - ``path/bands``: one (id, phash, bkey) row per (image, band),
      hive-PARTITIONED BY (band, bucket = pmod(bkey, n_buckets)) — the
      minhash/video bucket routing (9 x 16 = 144 directories; one dir
      per 7-bit key was 1152 tiny files whose listing cost dominated
      full-index scans). ``bkey`` rides as a data column: the probe's
      candidate equi-join still matches it exactly, the partition filter
      just routes coarser;
    - ``path/meta``: banding parameters + the DCT table's checksum, read
      back by the probe so an index can never be probed with mismatched
      signature parameters.

    Signing the corpus runs ONCE; after this, per-batch probe cost is
    O(batch + matching postings) regardless of corpus size."""
    coef_sum = sum(c for row in DCT_COEF for c in row)
    # decode is a SIGNATURE PARAMETER: probing a real-pixel index with
    # raw-byte signatures (or vice versa) would silently miss — the meta
    # row pins it so every probe/upsert hashes the way the build did.
    build_index(
        corpus_assets, path, PHASH_LAYOUT,
        lambda assets, pin: _phash_datasets(
            assets, id_col, n_bands, n_buckets, decode, pin
        ),
        (n_bands, _band_bits(n_bands), n_bands - 1, n_buckets, coef_sum, id_col,
         decode or ""),
        "n_bands int, band_bits int, max_dist int, n_buckets int, "
        "dct_checksum long, id_col string, decode string",
    )


def phash_index_probe(
    spark,
    index_path: str,
    batch_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    max_dist: int | None = None,
    cache_registry: list | None = None,
    sigs: DataFrame | None = None,
    routing: list | None = None,
) -> DataFrame:
    """Probe the persisted band index with an arriving image batch:
    (probe_id, corpus_id, hamming) for every batch image within
    ``max_dist`` of an indexed one. The batch signs ONLY itself; its
    distinct (band, bucket) routing keys — bounded by 9 x n_buckets no
    matter the batch size — become a literal static PartitionFilter on
    the bands scan, the exact ``bkey`` resolves in the candidate
    equi-join (the batch side broadcasts into it), and verify is
    popcount-on-xor over the stored signatures (no payload ever
    rejoins). ``routing``: precomputed (band, bucket) key list (a
    SUPERSET is output-identical — the equi-join resolves the exact
    bkey) from a fused multi-probe routing job
    (``plans.ingestion.compute_asset_routing``); skips this probe's own
    eager collect."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    dist = meta["max_dist"] if max_dist is None else max_dist
    if dist > meta["n_bands"] - 1:
        raise ValueError(
            f"max_dist={dist} breaks the {meta['n_bands']}-band pigeonhole"
        )
    # precomputed (id, phash) probe sigs (shared signature table): the
    # CALLER asserts they were hashed under the index's meta'd decode
    # codec — the table convention keys its cache on the same corpus.
    if sigs is None:
        sigs = phash_assets(
            with_min_parallelism(batch_assets), id_col, meta["decode"] or None
        )
        if not batch_assets.isStreaming:
            sigs = sigs.cache()
            if cache_registry is not None:
                cache_registry.append(sigs)
    probe = _banded(sigs, id_col, meta["n_bands"]).withColumnRenamed(
        id_col, "probe_id"
    )
    bands = read_static_schema(spark, f"{root}/bands")
    if not batch_assets.isStreaming:
        nb = meta["n_buckets"]
        # (band, bucket) packed into one key; probe broadcasts below
        keys = (
            [(int(b), int(k)) for b, k in routing]
            if routing is not None
            else [
                divmod(v, nb)
                for v in routing_keys(
                    probe, F.col("band") * nb + F.pmod(F.col("bkey"), F.lit(nb))
                )
            ]
        )
        if not keys:
            return spark.createDataFrame(
                [], "probe_id long, corpus_id long, hamming long"
            )
        # two single-column IN literals, not one (band, bucket)
        # disjunction: both are partition columns so each IN prunes
        # directories, the literal count stays bounded by n_bands +
        # n_buckets, and a thousand-leg OR tree (which overflows the
        # expression-converter stack) never exists. The cross-product
        # superset directories are eliminated by the candidate equi-join
        # on the exact bkey.
        bands = bands.filter(
            _in_literals("band", {b for b, _ in keys})
            & _in_literals("bucket", {k for _, k in keys})
        )
    cand = bands.join(
        F.broadcast(probe.withColumnRenamed("phash", "probe_phash")),
        ["band", "bkey"],
    ).filter(F.col(meta["id_col"]) != F.col("probe_id"))
    ham = F.bit_count(F.col("phash").bitwiseXOR(F.col("probe_phash"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= dist)
        .select(
            "probe_id",
            F.col(meta["id_col"]).alias("corpus_id"),
            "hamming",
        )
        .dropDuplicates(["probe_id", "corpus_id"])
    )


def phash_index_upsert(
    spark,
    index_path: str,
    new_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """Add images to the index: sign the new batch with the index's own
    codec and append its band rows to the touched (band, bucket)
    directories (``dedup.index_upsert`` states the contract)."""
    index_upsert(
        spark, index_path, new_assets, PHASH_LAYOUT,
        lambda assets, meta, root, pin: _phash_datasets(
            assets, meta["id_col"], meta["n_bands"], meta["n_buckets"],
            meta["decode"] or None, pin,
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def compact_phash_index(spark, index_path: str) -> str:
    """``dedup.compact_index`` over :data:`PHASH_LAYOUT` (concurrent
    probes and crashes: see ``dedup.index_dataset_root``)."""
    return compact_index(spark, index_path, PHASH_LAYOUT)


def phash_index_probe_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    *,
    id_col: str = "doc_id",
    max_dist: int | None = None,
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The streaming serve loop for the persisted pHash index — the
    image twin of ``dedup.minhash_index_probe_stream``: every
    micro-batch of asset rows runs through :func:`phash_index_probe`'s
    BATCH path inside ``foreachBatch`` (the micro-batch is a plain batch
    frame, so the probe's literal (band, bkey) partition routing applies
    and per-trigger cost stays O(batch + matching postings), independent
    of corpus size). ``sink`` is a callable ``(pairs_df, batch_id) ->
    None`` or a parquet directory path; callables MUST materialize
    before returning when ``upsert=True`` (the batch joins the index
    right after the sink runs). ``upsert=True`` closes the loop — later
    batches near-dup against every image already admitted; replays stay
    idempotent via the upsert's anti-join with the default
    ``assume_new_ids=False``. ``compact_every=N`` compacts after every
    N-th upserting batch."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: phash_index_probe(
            spark, index_path, batch, id_col=id_col, max_dist=max_dist,
            cache_registry=caches,
        ),
        lambda batch: phash_index_upsert(
            spark, index_path, batch, id_col=id_col, assume_new_ids=assume_new_ids
        ),
        compact_phash_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )


# --------------------------------------------------------------------------
# Persisted VIDEO frame index: build / probe / upsert / compact
# --------------------------------------------------------------------------

#: (band, bucket) partition layout for the video index: 21-bit band keys
#: have 2^21 values — far too many for one directory per key (the image
#: index's luxury at 7 bits) — so bkeys hash into this many buckets per
#: band, the minhash-index layout. 3 x 64 = 192 directories; a probe
#: batch's distinct (band, bucket) keys still become a literal
#: PartitionFilter, and the exact bkey resolves in the equi-join.
VIDEO_INDEX_BUCKETS = 64

#: ``frames`` one file per (band, bucket) directory, rows unchanged.
VIDEO_LAYOUT = (IndexDataset("frames", ("band", "bucket")),)


def _video_bands(
    sigs: DataFrame, id_col: str, n_bands: int, n_buckets: int
) -> DataFrame:
    """(id, frame_idx, phash, band, bkey, bucket = pmod(bkey, n_buckets))
    per (sampled frame, band) — the rows the video index build and
    upsert write and its probe joins."""
    return sigs.select(
        id_col, "frame_idx", "phash", _band_structs("phash", n_bands).alias("bk")
    ).select(
        id_col,
        "frame_idx",
        "phash",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
        F.pmod(F.col("bk.bkey"), F.lit(n_buckets)).alias("bucket"),
    )


def _video_datasets(assets, id_col, stride, n_bands, n_buckets, pin):
    """:data:`VIDEO_LAYOUT`'s frames rows for video ``assets``."""
    sigs = video_frame_phashes(assets, id_col, stride=stride)
    return (pin(_video_bands(sigs, id_col, n_bands, n_buckets)),)


def build_video_phash_index(
    corpus_assets: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    stride: int = 5,
    n_bands: int = VIDEO_BANDS,
    min_frames: int = VIDEO_MIN_FRAMES,
    n_buckets: int = VIDEO_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus side of video near-dup — the NINTH
    persisted index family, completing the tier symmetry (text x6,
    image pHash, audio fp, video frames):

    - ``path/frames``: one (id, frame_idx, phash, bkey) row per
      (sampled frame, band), hive-PARTITIONED BY (band, bucket =
      pmod(bkey, n_buckets));
    - ``path/meta``: banding/stride/bar parameters + the DCT table
      checksum, read back by every probe/upsert.

    Demuxing + hashing the corpus's frames runs ONCE; after this, a
    probe batch demuxes only itself and per-batch cost is O(batch +
    matching postings) regardless of corpus size — re-encoded uploads
    of already-ingested footage are caught without ever re-decoding the
    archive."""
    coef_sum = sum(c for row in DCT_COEF for c in row)
    build_index(
        corpus_assets, path, VIDEO_LAYOUT,
        lambda assets, pin: _video_datasets(
            assets, id_col, stride, n_bands, n_buckets, pin
        ),
        (n_bands, _band_bits(n_bands), n_bands - 1, min_frames, stride, n_buckets,
         coef_sum, id_col),
        "n_bands int, band_bits int, max_dist int, min_frames int, stride int, "
        "n_buckets int, dct_checksum long, id_col string",
    )


def video_phash_index_probe(
    spark,
    index_path: str,
    batch_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    max_dist: int | None = None,
    min_frames: int | None = None,
    cache_registry: list | None = None,
    sigs: DataFrame | None = None,
    routing: list | None = None,
) -> DataFrame:
    """Probe the persisted video frame index with an arriving batch:
    (probe_id, corpus_id, n_close_frames) for every batch video with >=
    ``min_frames`` aligned sampled frames within ``max_dist`` of an
    indexed video's. The batch demuxes and hashes ONLY itself; its
    distinct (band, bucket) keys — bounded by n_bands x n_buckets — become
    a literal static PartitionFilter, the broadcast candidate join
    resolves (band, bkey, frame_idx) exactly, and popcount-on-xor
    verifies per aligned frame before the pair-frame dedup and the
    per-pair count. ``routing``: precomputed (band, bucket) keys from
    the fused routing job (superset-safe — the equi-join is exact);
    skips this probe's own eager collect."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    dist = meta["max_dist"] if max_dist is None else max_dist
    bar = meta["min_frames"] if min_frames is None else min_frames
    if dist > meta["n_bands"] - 1:
        raise ValueError(
            f"max_dist={dist} breaks the {meta['n_bands']}-band pigeonhole"
        )
    if sigs is None:
        sigs = video_frame_phashes(
            with_min_parallelism(batch_assets), id_col, stride=meta["stride"]
        )
        if not batch_assets.isStreaming:
            sigs = sigs.cache()
            if cache_registry is not None:
                cache_registry.append(sigs)
    probe = _video_bands(sigs, id_col, meta["n_bands"], meta["n_buckets"]).toDF(
        "probe_id", "p_frame_idx", "probe_phash", "p_band", "p_bkey", "p_bucket"
    )
    frames = read_static_schema(spark, f"{root}/frames")
    if not batch_assets.isStreaming:
        nb = meta["n_buckets"]
        # (band, bucket) packed into one key; probe broadcasts below
        keys = (
            [(int(b), int(k)) for b, k in routing]
            if routing is not None
            else [
                divmod(v, nb)
                for v in routing_keys(probe, F.col("p_band") * nb + F.col("p_bucket"))
            ]
        )
        if not keys:
            return spark.createDataFrame(
                [], "probe_id long, corpus_id long, n_close_frames long"
            )
        frames = frames.filter(
            _in_literals("band", {b for b, _ in keys})
            & _in_literals("bucket", {k for _, k in keys})
        )
    cand = frames.join(
        F.broadcast(probe),
        (F.col("band") == F.col("p_band"))
        & (F.col("bucket") == F.col("p_bucket"))
        & (F.col("bkey") == F.col("p_bkey"))
        & (F.col("frame_idx") == F.col("p_frame_idx")),
    ).filter(F.col(meta["id_col"]) != F.col("probe_id"))
    ham = F.bit_count(F.col("phash").bitwiseXOR(F.col("probe_phash"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= dist)
        .select(
            "probe_id",
            F.col(meta["id_col"]).alias("corpus_id"),
            "frame_idx",
        )
        .dropDuplicates(["probe_id", "corpus_id", "frame_idx"])
        .groupBy("probe_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_close_frames"))
        .filter(F.col("n_close_frames") >= bar)
    )


def video_phash_index_upsert(
    spark,
    index_path: str,
    new_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """Add videos to the index: demux + hash the new batch with the
    index's own parameters and append its band rows to the touched
    (band, bucket) directories (``dedup.index_upsert`` states the
    contract)."""
    index_upsert(
        spark, index_path, new_assets, VIDEO_LAYOUT,
        lambda assets, meta, root, pin: _video_datasets(
            assets, meta["id_col"], meta["stride"], meta["n_bands"],
            meta["n_buckets"], pin,
        ),
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def compact_video_phash_index(spark, index_path: str) -> str:
    """``dedup.compact_index`` over :data:`VIDEO_LAYOUT` (concurrent
    probes and crashes: see ``dedup.index_dataset_root``)."""
    return compact_index(spark, index_path, VIDEO_LAYOUT)


def video_phash_pairs_between_sql(
    probe_pred: str,
    corpus_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    frame_len: int = 64,
    stride: int = 5,
    max_dist: int = VIDEO_MAX_DIST,
    min_frames: int = VIDEO_MIN_FRAMES,
    prelude_ctes: str = "",
    pad_frames: bool = False,
) -> str:
    """Oracle for the incremental (probe x corpus) form: (probe_id,
    corpus_id, n_close_frames) for every probe video with enough
    aligned close frames against a corpus one — the all-pairs per-frame
    definition the banded index plan must match exactly.
    ``pad_frames``: see :func:`video_phash_pairs_sql`."""
    n = f"octet_length(CAST({text} AS BLOB))"
    fexpr = f"substring({text}, CAST(t.idx * {frame_len} + 1 AS INT), {frame_len})"
    if pad_frames:
        fexpr = f"rpad({fexpr}, {frame_len}, ' ')"
    return f"""
    WITH {prelude_ctes} vframes AS (
        SELECT {id_col} AS vid, t.idx AS frame_idx,
               {fexpr}
                   AS ftext,
               {id_col} * {VIDEO_FID_BASE} + t.idx AS fid
        FROM {table},
             unnest(range(0, ({n} + {frame_len} - 1) // {frame_len}, {stride}))
                 AS t(idx)
    ),
    fsigs AS (
        SELECT fid // {VIDEO_FID_BASE} AS vid,
               fid % {VIDEO_FID_BASE} AS frame_idx, phash
        FROM {phash_sql('vframes', 'fid', 'ftext')} s
    ),
    close_frames AS (
        SELECT p.vid AS probe_id, c.vid AS corpus_id, p.frame_idx
        FROM fsigs p JOIN fsigs c
          ON p.frame_idx = c.frame_idx AND p.vid != c.vid
        WHERE p.vid IN (SELECT {id_col} FROM {table} WHERE {probe_pred})
          AND c.vid IN (SELECT {id_col} FROM {table} WHERE {corpus_pred})
          AND bit_count(xor(p.phash, c.phash)) <= {max_dist}
    )
    SELECT probe_id, corpus_id, CAST(COUNT(*) AS BIGINT) AS n_close_frames
    FROM close_frames GROUP BY 1, 2 HAVING COUNT(*) >= {min_frames}
    """


def video_phash_index_probe_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    *,
    id_col: str = "doc_id",
    max_dist: int | None = None,
    min_frames: int | None = None,
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The streaming serve loop for the persisted video frame index —
    every micro-batch of video assets runs through
    :func:`video_phash_index_probe`'s BATCH path inside ``foreachBatch``
    (the micro-batch is a plain batch frame, so the literal
    (band, bucket) partition routing applies and per-trigger cost stays
    O(batch + matching postings), independent of archive size). Same
    sink/upsert/compact contracts as ``phash_index_probe_stream`` /
    ``audiofp_index_probe_stream`` — with ``upsert=True`` later uploads
    near-dup against every video already admitted, and replays stay
    idempotent via the upsert's id anti-join."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: video_phash_index_probe(
            spark, index_path, batch, id_col=id_col, max_dist=max_dist,
            min_frames=min_frames, cache_registry=caches,
        ),
        lambda batch: video_phash_index_upsert(
            spark, index_path, batch, id_col=id_col, assume_new_ids=assume_new_ids
        ),
        compact_video_phash_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )
