"""Audio fingerprinting + shared-fingerprint dedup — the audio leg of
the multimodal dedup tier (text: six index families; image: pHash,
``operators/imagehash.py``; this module: frame fingerprints).

The design is the public Chromaprint/AcoustID shape (Lalinsky 2011;
same family as Haitsma & Kalker's "A Highly Robust Audio Fingerprinting
System", ISMIR'02): frame the sample stream, compute per-frame band
energies, and derive one small fingerprint per frame from the SIGN of
the energy double-difference across (band, time) — robust to volume
and small local edits because only orderings, not magnitudes, matter.
Matching is shared-fingerprint counting, never waveform comparison.

Decode: with ``decode="wav"`` every payload is parsed by the REAL
stdlib RIFF/WAVE reader (``functions/codecs.wav_decode_pcm8`` — the
registry queries' path since r8); 8-bit mono PCM samples ARE raw bytes,
so the decoded stream round-trips exactly and the DuckDB oracle
recomputes fingerprints bit-for-bit from the same bytes. ``decode=None``
keeps the raw-byte stub convention for plumbing tests; a build with
real compressed-audio codecs swaps the decoder, not the Spark shape.

Geometry: frames of ``FRAME_W`` = 32 samples, ``N_BANDS`` = 8 bands of
4 samples; energy E[f,b] = sum of the band's bytes; fingerprint of
frame f (f = 0..F-2) has bit b (b = 0..6) set iff
``(E[f,b] - E[f+1,b]) > (E[f,b+1] - E[f+1,b+1])`` — 7-bit values.

Scale notes (100 TB): fingerprints are ~1 int per 32 payload bytes —
the posting table is ~3% of corpus bytes; the pair join is an equi-join
on (frame_idx, fp) postings with a document-frequency cap (the
``dedup_winnow_pairs`` discipline), so a degenerate fingerprint shared
by millions of clips can never fan out quadratically — dropped keys
cost recall on REPEATED boilerplate audio only, and the cap is part of
the operator's contract (the oracle applies the same cap).
"""

from __future__ import annotations

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

FRAME_W = 32
N_BANDS = 8
BAND_W = FRAME_W // N_BANDS  # 4
FP_BITS = N_BANDS - 1  # 7: band double-diff needs b+1

#: drop (frame_idx, fp) posting keys seen in more than this many docs —
#: quadratic-fanout guard, same discipline as dedup_winnow_pairs.
AUDIO_DF_CAP = 50

#: a pair needs at least this many shared (frame_idx, fp) postings.
#: Measured at sf0.01 (originals + twins): chance collisions die off
#: steeply after 2 shares (40.7k@1, 3.0k@2, 230@3, 12@4) while twins
#: and genuine near-dups hold 4-16 — 4 is the knee.
AUDIO_MIN_SHARED = 4


def audio_fingerprints(
    df: DataFrame, id_col: str = "doc_id", decode: str | None = None
) -> DataFrame:
    """(id, frame_idx, fp) per asset via one Arrow-batched mapInPandas
    kernel — each payload's energy matrix, double-diff, and bit-pack are
    whole-array numpy ops; the only per-row Python is the payload loop
    (variable-length binary has no columnar kernel). Clips shorter than
    two frames (64 bytes) emit no fingerprint — too short to match.

    ``decode=None`` fingerprints the raw payload bytes as the sample
    stream (the stub convention); ``decode="wav"`` runs every payload
    through the REAL stdlib RIFF/WAVE parser
    (``functions/codecs.wav_decode_pcm8``) and fingerprints the DECODED
    8-bit PCM samples — same plan, and still oracle-bit-exact because
    mono 8-bit PCM decode round-trips the sample bytes exactly.
    ``decode="pcm"`` uses the GENERAL profile
    (``functions/codecs.wav_decode_pcm``): 8-bit mono plus 16-bit
    mono/stereo, reduced to one 8-bit stream by the documented integer
    downmix + requantization — fingerprints stay integer-exact over
    the wire formats real corpora ship."""
    import numpy as np
    import pandas as pd

    if decode not in (None, "wav", "pcm"):
        raise ValueError(f"decode must be None, 'wav' or 'pcm', got {decode!r}")
    bitpow = None

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        nonlocal bitpow
        if bitpow is None:
            bitpow = np.left_shift(1, np.arange(FP_BITS, dtype=np.int64))
        if decode == "wav":
            from kafka_streams_the_clojure_way_spark.functions.codecs import (
                wav_decode_pcm8,
            )

            unwrap = lambda raw: wav_decode_pcm8(bytes(raw))  # noqa: E731
        elif decode == "pcm":
            from kafka_streams_the_clojure_way_spark.functions.codecs import (
                wav_decode_pcm,
            )

            unwrap = lambda raw: wav_decode_pcm(bytes(raw))  # noqa: E731
        else:
            unwrap = bytes
        for pdf in batches:
            ids, frames, fps = [], [], []
            for doc_id, asset in zip(pdf[id_col].values, pdf["asset"].values):
                buf = np.frombuffer(unwrap(asset["bytes"]), dtype=np.uint8)
                n_frames = buf.size // FRAME_W
                if n_frames < 2:
                    continue
                e = (
                    buf[: n_frames * FRAME_W]
                    .reshape(n_frames, N_BANDS, BAND_W)
                    .sum(axis=2, dtype=np.int64)
                )
                d = e[:-1] - e[1:]  # (F-1, 8): E[f,b] - E[f+1,b]
                bits = d[:, : FP_BITS] > d[:, 1:]
                fp = (bits * bitpow[None, :]).sum(axis=1)
                ids.extend([doc_id] * fp.size)
                frames.extend(range(fp.size))
                fps.extend(fp.tolist())
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": frames, "fp": fps},
                dtype="int64" if ids else None,
            )

    return df.select(id_col, "asset").mapInPandas(
        kernel, schema=f"{id_col} long, frame_idx long, fp long"
    )


def audio_fingerprints_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    stream: str = "bytes",
) -> str:
    """DuckDB twin of :func:`audio_fingerprints`. ``stream="bytes"``:
    the stub/8-bit-mono path (payload = UTF-8 bytes of ``text``; ASCII
    corpus => code points are bytes). ``stream="pcm16_stereo"``: the
    16-bit STEREO fixture profile — the decoded 8-bit stream is the
    pairwise byte average ``(b[2g] + b[2g+1]) >> 1`` of the text
    space-padded to even length (``functions/codecs.wav_decode_pcm``'s
    documented downmix + requantization of ``wav_encode_pcm16``
    output). Returns a sub-SELECT of (id_col, frame_idx, fp)."""
    if stream not in ("bytes", "pcm16_stereo"):
        raise ValueError(
            f"stream must be 'bytes' or 'pcm16_stereo', got {stream!r}"
        )
    raw_n = f"octet_length(CAST({text} AS BLOB))"
    if stream == "bytes":
        t_expr = text
        n_expr = raw_n
        byte_expr = "unicode(substr(t, CAST(g AS INT) + 1, 1))"
    else:
        t_expr = f"rpad({text}, CAST({raw_n} + ({raw_n} % 2) AS INT), ' ')"
        n_expr = f"({raw_n} + 1) // 2"
        byte_expr = (
            "(unicode(substr(t, CAST(2 * g AS INT) + 1, 1))"
            " + unicode(substr(t, CAST(2 * g AS INT) + 2, 1))) // 2"
        )
    return f"""(
    WITH geo AS (
        SELECT {id_col} AS aid, {t_expr} AS t,
               {n_expr} AS n
        FROM {table}
    ),
    pos AS (
        SELECT aid, t, unnest(range(0, CAST((n // {FRAME_W}) * {FRAME_W} AS INT))) AS g
        FROM geo
    ),
    en AS (
        SELECT aid, (g // {FRAME_W}) AS f, ((g % {FRAME_W}) // {BAND_W}) AS b,
               SUM({byte_expr}) AS e
        FROM pos GROUP BY 1, 2, 3
    )
    SELECT a.aid AS {id_col}, CAST(a.f AS BIGINT) AS frame_idx,
           CAST(SUM(CASE WHEN (a.e - c.e) > (b.e - d.e)
                         THEN (1 << CAST(a.b AS INT)) ELSE 0 END) AS BIGINT) AS fp
    FROM en a
    JOIN en c ON c.aid = a.aid AND c.f = a.f + 1 AND c.b = a.b
    JOIN en b ON b.aid = a.aid AND b.f = a.f     AND b.b = a.b + 1
    JOIN en d ON d.aid = a.aid AND d.f = a.f + 1 AND d.b = a.b + 1
    WHERE a.b < {FP_BITS}
    GROUP BY 1, 2
)"""


def audio_fp_pairs(
    assets: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = AUDIO_MIN_SHARED,
    df_cap: int = AUDIO_DF_CAP,
    decode: str | None = None,
    cache_registry: list | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Audio near-dup pairs (id_a < id_b, n_shared): equi-join the
    (frame_idx, fp) posting lists — frame-aligned, so a match means the
    same fingerprint at the same position, the bar a re-encode of the
    same clip clears and unrelated clips don't — count shared postings
    per pair, keep pairs with >= ``min_shared``. Posting keys in more
    than ``df_cap`` docs are dropped BEFORE the join (the winnowing
    discipline): no key can fan out past cap^2/2 candidate rows. The
    fingerprint frame is cached (it feeds the df-cap pass and both join
    sides; a precomputed ``fps`` frame — the shared materialized
    signature-table pattern — skips the decode+fingerprint stage
    entirely, and a parquet-backed one needs no cache); pass
    ``cache_registry`` to own the computed frame's unpersist (the
    ``minhash_index_probe`` lifecycle contract)."""
    if fps is None:
        fps = audio_fingerprints(
            with_min_parallelism(assets), id_col, decode
        ).cache()
        if cache_registry is not None:
            cache_registry.append(fps)
    keys = (
        fps.groupBy("frame_idx", "fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("frame_idx", "fp")
    )
    kept = fps.join(keys, ["frame_idx", "fp"], "left_semi")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def audio_fp_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    min_shared: int = AUDIO_MIN_SHARED,
    df_cap: int = AUDIO_DF_CAP,
    prelude_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`audio_fp_pairs` (same cap, same bar).
    ``prelude_ctes``: extra CTE definitions (``"name AS (...),"``)
    spliced ahead of the fingerprint CTEs so a caller can derive
    ``table`` without nesting WITH clauses."""
    return f"""
    WITH {prelude_ctes} fps AS (
        SELECT {id_col}, frame_idx, fp
        FROM {audio_fingerprints_sql(table, id_col, text)} s
    ),
    keys AS (
        SELECT frame_idx, fp FROM fps
        GROUP BY frame_idx, fp HAVING COUNT(*) <= {df_cap}
    ),
    kept AS (
        SELECT f.* FROM fps f JOIN keys USING (frame_idx, fp)
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b
      ON a.frame_idx = b.frame_idx AND a.fp = b.fp
     AND a.{id_col} < b.{id_col}
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """


# --------------------------------------------------------------------------
# Persisted audio fingerprint index: build / probe / upsert / compact
# --------------------------------------------------------------------------


def anti_drop_list(spark, df: DataFrame, root: str, meta) -> DataFrame:
    """Rewrite rule: physically remove postings on keys in the drop list
    (the logical deletes the upsert path accrues)."""
    dropped = read_static_schema(spark, f"{root}/dropped")
    return df.join(F.broadcast(dropped), ["frame_idx", "fp"], "left_anti")


#: ``postings`` (the add-only anti-join's key) one file per fp
#: directory, minus the dropped keys at compaction; the drop list itself
#: is copied unchanged — unlike tombstones it is a permanent df-cap
#: artifact that probes and upserts keep consulting.
AUDIOFP_LAYOUT = (
    IndexDataset("postings", ("fp",), anti_drop_list),
    IndexDataset("dropped"),
)


def build_audiofp_index(
    corpus_assets: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    df_cap: int = AUDIO_DF_CAP,
    min_shared: int = AUDIO_MIN_SHARED,
    decode: str | None = None,
) -> None:
    """Materialize the corpus side of audio near-dup — the EIGHTH
    persisted index family, closing the one dedup tier that had no
    serve path (incremental audio ingest used to re-fingerprint the
    corpus per batch):

    - ``path/postings``: one (id, frame_idx) row per kept corpus
      fingerprint, hive-PARTITIONED BY fp — the 7-bit fingerprint IS
      the partition key (128 directories), so a probe batch's distinct
      fps become a literal PartitionFilter;
    - ``path/dropped``: the (frame_idx, fp) keys whose corpus document
      frequency exceeds ``df_cap`` — the winnowing discipline's drop
      list, PERSISTED so upserts can maintain it incrementally (a key
      that crosses the cap later is added here; its already-written
      postings turn invisible to probes via anti-join and are
      physically removed at the next compact — logical delete, physical
      at compaction, the tombstone trade documented for IVF deletes);
    - ``path/meta``: frame/band geometry checksum, cap, bar, id column,
      and the decode codec — a probe can never run with mismatched
      fingerprint parameters.

    Fingerprinting the corpus runs ONCE; after this, per-batch probe
    cost is O(batch + matching postings) regardless of corpus size."""
    def derive(clips: DataFrame, pin) -> tuple:
        fps = pin(audio_fingerprints(clips, id_col, decode))
        keys = fps.groupBy("frame_idx", "fp").agg(F.count(F.lit(1)).alias("df"))
        dropped = keys.filter(F.col("df") > df_cap).select("frame_idx", "fp")
        return fps.join(dropped, ["frame_idx", "fp"], "left_anti"), dropped

    build_index(
        corpus_assets, path, AUDIOFP_LAYOUT, derive,
        (FRAME_W, N_BANDS, FP_BITS, df_cap, min_shared, id_col, decode or ""),
        "frame_w int, n_bands int, fp_bits int, df_cap int, min_shared int, "
        "id_col string, decode string",
    )


def _read_postings(spark, root: str, id_col: str):
    """Read the postings dataset with an EXPLICIT schema: a fully
    df-capped (or freshly compacted-to-empty) index has zero part
    files, where schema inference fails — an empty index must probe as
    empty, not error. ``root`` is a RESOLVED dataset root
    (``dedup.index_dataset_root``) — callers resolve once per call so
    a repoint mid-call can never mix snapshots."""
    return spark.read.schema(
        f"{id_col} long, frame_idx long, fp long"
    ).parquet(f"{root}/postings")


def audiofp_index_probe(
    spark,
    index_path: str,
    batch_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    min_shared: int | None = None,
    cache_registry: list | None = None,
    fps: DataFrame | None = None,
    routing: list | None = None,
) -> DataFrame:
    """Probe the persisted audio index with an arriving clip batch:
    (probe_id, corpus_id, n_shared) for every batch clip sharing >=
    ``min_shared`` frame-aligned fingerprints with an indexed one. The
    batch fingerprints ONLY itself; its distinct fp values — bounded by
    128 no matter the batch size — become a literal static
    PartitionFilter on the postings scan, the persisted drop list is
    anti-joined (so cap semantics match a fresh rebuild exactly), and
    the batch side broadcasts into the (frame_idx, fp) equi-join. The
    df cap is a property of the INDEXED corpus (the between-form
    semantics); batch-side keys are never capped."""
    meta = _index_meta(spark, index_path)
    root = index_dataset_root(index_path)  # one snapshot per probe
    bar = meta["min_shared"] if min_shared is None else min_shared
    # precomputed probe fingerprints (shared signature table): the
    # caller asserts they came from the index's meta'd decode codec
    if fps is None:
        fps = audio_fingerprints(
            with_min_parallelism(batch_assets), id_col, meta["decode"] or None
        )
        if not batch_assets.isStreaming:
            fps = fps.cache()
            if cache_registry is not None:
                cache_registry.append(fps)
    probe = (
        fps.withColumnRenamed(id_col, "probe_id")
        .withColumnRenamed("frame_idx", "p_frame_idx")
        .withColumnRenamed("fp", "p_fp")
    )
    postings = _read_postings(spark, root, meta["id_col"])
    if not batch_assets.isStreaming:
        # ``routing``: precomputed fp keys from the fused routing job
        # (superset-safe — the (frame_idx, fp) equi-join is exact);
        # skips this probe's own eager collect.
        # the batch's own fps are batch-bounded: they broadcast below
        fp_keys = (
            [int(x) for x in routing]
            if routing is not None
            else routing_keys(probe, "p_fp")
        )
        if not fp_keys:
            return spark.createDataFrame(
                [], "probe_id long, corpus_id long, n_shared long"
            )
        # one single-column IN literal on the partition column: prunes
        # directories (<= 128 legs), the frame_idx leg resolves in the
        # equi-join below.
        postings = postings.filter(_in_literals("fp", fp_keys))
    dropped = read_static_schema(spark, f"{root}/dropped")
    postings = postings.join(
        F.broadcast(dropped), ["frame_idx", "fp"], "left_anti"
    )
    cand = postings.join(
        F.broadcast(probe),
        (F.col("frame_idx") == F.col("p_frame_idx"))
        & (F.col("fp") == F.col("p_fp")),
    ).filter(F.col(meta["id_col"]) != F.col("probe_id"))
    return (
        cand.groupBy("probe_id", F.col(meta["id_col"]).alias("corpus_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= bar)
    )


def audiofp_index_upsert(
    spark,
    index_path: str,
    new_assets: DataFrame,
    *,
    id_col: str = "doc_id",
    assume_new_ids: bool = False,
) -> None:
    """Add clips to the index (``dedup.index_upsert`` states the
    contract), MAINTAINING the df-cap invariant so a probe after any
    number of upserts returns exactly what a probe of a fresh rebuild
    over (corpus + batches) would. After the core's id anti-join, the
    batch is fingerprinted with the index's own codec, then:

    1. postings on already-dropped keys are dropped (they're invisible
       anyway);
    2. existing postings for the batch's keys are counted — partition-
       pruned to the batch's <= 128 fp directories — and the batch's
       own per-key counts added; keys whose TOTAL df crosses the cap go
       into the persisted drop list (logical delete of their existing
       postings; physical removal happens at the next compact), and the
       batch's postings on those keys are never written;
    3. the core appends the surviving postings.

    Crash-retry contract: the drop-list append (step 2) commits BEFORE
    the postings append (step 3), so a crash between them leaves keys
    dropped without their batch postings — probes stay cap-correct
    (stricter, never looser), and the retry's id anti-join skips the
    half-added docs; a rebuild restores them. The reverse order would
    leave over-cap keys SERVING quadratic fanout until the retry."""

    def derive(clips: DataFrame, meta, root: str, pin) -> tuple:
        dropped = read_static_schema(spark, f"{root}/dropped")
        fps = pin(audio_fingerprints(clips, meta["id_col"], meta["decode"] or None))
        fps = fps.join(F.broadcast(dropped), ["frame_idx", "fp"], "left_anti")
        batch_keys = fps.groupBy("frame_idx", "fp").agg(
            F.count(F.lit(1)).alias("new_df")
        )
        # from the pinned batch fps, not their per-key counts: the same
        # fp set, read without the aggregate's shuffle
        fp_keys = routing_keys(fps, "fp")
        if not fp_keys:
            return None, None
        existing_df = (
            _read_postings(spark, root, meta["id_col"])
            .filter(_in_literals("fp", fp_keys))
            .groupBy("frame_idx", "fp")
            .agg(F.count(F.lit(1)).alias("old_df"))
        )
        totals = batch_keys.join(existing_df, ["frame_idx", "fp"], "left").select(
            "frame_idx",
            "fp",
            (F.col("new_df") + F.coalesce(F.col("old_df"), F.lit(0))).alias("df"),
        )
        newly_dropped = pin(
            totals.filter(F.col("df") > meta["df_cap"]).select("frame_idx", "fp")
        )
        if newly_dropped.count() > 0:
            newly_dropped.coalesce(1).write.mode("append").parquet(
                f"{root}/dropped"
            )
            fps = fps.join(
                F.broadcast(newly_dropped), ["frame_idx", "fp"], "left_anti"
            )
        return fps, None

    index_upsert(
        spark, index_path, new_assets, AUDIOFP_LAYOUT, derive,
        id_col=id_col, assume_new_ids=assume_new_ids,
    )


def compact_audiofp_index(spark, index_path: str) -> str:
    """``dedup.compact_index`` over :data:`AUDIOFP_LAYOUT` (concurrent
    probes and crashes: see ``dedup.index_dataset_root``)."""
    return compact_index(spark, index_path, AUDIOFP_LAYOUT)


def audio_fp_pairs_between_sql(
    probe_pred: str,
    corpus_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    min_shared: int = AUDIO_MIN_SHARED,
    df_cap: int = AUDIO_DF_CAP,
    prelude_ctes: str = "",
) -> str:
    """Oracle for the incremental (probe x corpus) form: (probe_id,
    corpus_id, n_shared) with the df cap computed over the CORPUS side
    only — the indexed semantics (the cap is a property of the serving
    index, not of any one arriving batch)."""
    return f"""
    WITH {prelude_ctes} allfps AS (
        SELECT {id_col}, frame_idx, fp
        FROM {audio_fingerprints_sql(table, id_col, text)} s
    ),
    cfps AS (
        SELECT * FROM allfps
        WHERE {id_col} IN (SELECT {id_col} FROM {table} WHERE {corpus_pred})
    ),
    ckeys AS (
        SELECT frame_idx, fp FROM cfps
        GROUP BY frame_idx, fp HAVING COUNT(*) <= {df_cap}
    ),
    ckept AS (
        SELECT c.* FROM cfps c JOIN ckeys USING (frame_idx, fp)
    ),
    pfps AS (
        SELECT * FROM allfps
        WHERE {id_col} IN (SELECT {id_col} FROM {table} WHERE {probe_pred})
    )
    SELECT p.{id_col} AS probe_id, c.{id_col} AS corpus_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pfps p JOIN ckept c
      ON p.frame_idx = c.frame_idx AND p.fp = c.fp
     AND p.{id_col} != c.{id_col}
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """


def audiofp_index_probe_stream(
    spark,
    index_path: str,
    stream: DataFrame,
    sink,
    *,
    id_col: str = "doc_id",
    min_shared: int | None = None,
    checkpoint: str | None = None,
    upsert: bool = False,
    assume_new_ids: bool = False,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The streaming serve loop for the persisted audio index — the
    audio twin of ``imagehash.phash_index_probe_stream``: every
    micro-batch of clip assets runs through :func:`audiofp_index_probe`'s
    BATCH path inside ``foreachBatch`` (a micro-batch is a plain batch
    frame, so the probe's literal fp partition routing applies and
    per-trigger cost stays O(batch + matching postings), independent of
    corpus size). ``sink`` is a callable ``(pairs_df, batch_id) -> None``
    or a parquet directory path; callables MUST materialize before
    returning when ``upsert=True`` (the batch joins the index right
    after the sink runs). ``upsert=True`` closes the loop — later
    batches near-dup against every clip already admitted, with the
    df-cap invariant maintained incrementally by the upsert path;
    replays stay idempotent via its anti-join (default
    ``assume_new_ids=False``). ``compact_every=N`` compacts after every
    N-th upserting batch, and each compaction also PHYSICALLY removes
    postings the cap logically dropped."""
    return serve_index_stream(
        spark, index_path, stream, sink,
        lambda batch, caches: audiofp_index_probe(
            spark, index_path, batch, id_col=id_col, min_shared=min_shared,
            cache_registry=caches,
        ),
        lambda batch: audiofp_index_upsert(
            spark, index_path, batch, id_col=id_col, assume_new_ids=assume_new_ids
        ),
        compact_audiofp_index,
        upsert_batches=upsert, compact_every=compact_every,
        checkpoint=checkpoint, trigger=trigger,
    )


def resample_audio_assets(
    df: DataFrame, factor: int, id_col: str = "doc_id"
) -> DataFrame:
    """Integer-factor decimation through the REAL codec loop: decode the
    WAV via the std RIFF parser, keep every ``factor``-th sample
    (``out[k] = samples[k * factor]`` — the nearest-neighbor rule, so an
    oracle reproduces each output sample with substring arithmetic), and
    RE-ENCODE a valid WAV at the reduced rate. The audio twin of
    ``multimodal.resize_assets(codec="png")``; a real-codec build swaps
    in a windowed-sinc resampler behind the same seam, plan unchanged.
    Payload-in/payload-out — budget shuffle/IO ~= input/factor."""
    import pandas as pd

    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from kafka_streams_the_clojure_way_spark.functions.codecs import (
            WAV_RATE,
            wav_decode_pcm8,
            wav_encode_pcm8,
        )

        rate = max(1, WAV_RATE // factor)
        for pdf in batches:
            out = []
            for doc_id, asset in zip(pdf[id_col].values, pdf["asset"].values):
                samples = wav_decode_pcm8(bytes(asset["bytes"]))
                out.append(
                    {
                        id_col: doc_id,
                        "asset": {
                            "bytes": wav_encode_pcm8(samples[::factor], rate=rate),
                            "mime": "audio/wav",
                            "width": -1,
                            "height": -1,
                            "n_frames": -1,
                            "sample_rate": rate,
                        },
                    }
                )
            yield pd.DataFrame(out)

    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        ASSET_SCHEMA,
    )

    return df.select(id_col, "asset").mapInPandas(
        kernel, schema=f"{id_col} long, asset struct<{ASSET_SCHEMA}>"
    )
