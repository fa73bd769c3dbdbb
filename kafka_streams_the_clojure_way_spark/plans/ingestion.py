"""The continuous-ingestion curation loop as a declarative topology.

The engine's identity is topology-as-data (reference: willa topology
dicts, core.clj:139-157; run-experiment at core.clj:224-234): a plain
dict of entities + workflow edges, compiled by ``plans.compiler`` into
one DataFrame per entity. This module applies that idea to the
LLM-curation north star — the gates that every arriving document batch
must pass before it joins the training corpus:

    topic/raw-docs
        │
    stream/exact-gate        (optional) persisted hash-index probe —
        │                    drop byte-identical re-crawls before any
        │                    near-dup work. SEMANTICALLY a no-op given
        │                    the near-dup gate (an exact dup has
        │                    Jaccard 1.0 >= any sane threshold), which
        │                    is exactly why it exists: it removes the
        │                    certain drops for the cost of one md5 +
        │                    bucket-routed scan, so the expensive
        │                    signature/verify path never sees them —
        │                    and the composed oracle is unchanged by
        │                    construction (operators/dedup.py)
    stream/neardup-gate      MinHash band-index probe (persisted index,
        │                    static (band,bucket) partition routing) —
        │                    drop docs with a near-duplicate already in
        │                    the corpus (operators/dedup.py)
    stream/dsir-gate         DSIR importance score (Xie et al.
        │                    NeurIPS'23), stateless quantized fold —
        │                    drop docs that don't look like the target
        │                    domain (operators/text.py)
    stream/containment-gate  asymmetric shingle containment — drop
        │                    docs already covered by (or swallowing) a
        │                    corpus doc (operators/dedup.py)
    stream/semantic-gate     (optional) persisted IVF-index probe over
        │                    the docs' EMBEDDINGS (SemDeDup as a serve
        │                    path) — drop docs whose vector has a
        │                    cosine-near corpus vector in its probed
        │                    cells; the one gate that sees
        │                    paraphrase-class duplicates with zero
        │                    shingle overlap (operators/similarity.py)
    topic/curated-docs

Because every gate is a ``DataFrame -> DataFrame`` xform, the SAME
topology dict compiles in batch mode (offline simulation / backfill /
the registered oracle-checked query) and runs per micro-batch inside
``foreachBatch`` via :func:`run_ingestion_stream` — the streaming serve
loop that keeps the index probe's partition routing (a static join side
cannot take a stream-derived literal filter, so the probe MUST see a
batch frame; see ``minhash_index_probe_stream``).

Scale design (the 100 TB contract):
- per-batch cost is O(batch + probed partitions), independent of corpus
  size: the near-dup gate reads only the probed (band, bucket) index
  directories; the DSIR gate is a row-local fold with a 256-entry
  broadcast literal; the containment gate's corpus posting/shingle
  frames are computed once and reused across batches (Spark's cache
  manager dedupes by logical plan — the first batch materializes them,
  later batches hit the cache);
- no gate ever joins corpus x corpus — candidates are always
  probe x corpus through an equi-join;
- driver-side state is model-sized only (index meta, routing keys,
  256 quantized ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.artifacts import release_scratch, scratch_dir
from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import similarity as S
from kafka_streams_the_clojure_way_spark.operators import text as T
from kafka_streams_the_clojure_way_spark.plans.spec import Topology
from kafka_streams_the_clojure_way_spark.streaming.runner import (
    as_batch_sink,
    run_foreach_batch,
)


class _SpoolDir:
    """Registry shim for a per-trigger spool directory: quacks like a
    cached DataFrame for the drain loop (``unpersist()`` deletes the
    dir), so gate spools share the cache registry's per-batch
    lifecycle."""

    def __init__(self, path: str):
        self.path = path

    def unpersist(self, *_a, **_k):
        release_scratch(self.path)
        return self


#: default gate thresholds — module constants so the registered query
#: and its oracle agree by construction.
INGEST_JACCARD_THRESHOLD = 0.8
#: keep docs whose total DSIR log-weight is above this — the shipped
#: corpora score mostly negative (docs are longer than the en-target
#: slice is concentrated), so 0.0 would admit almost nothing; -0.5
#: admits roughly the top half, which is what a gate demo should do.
INGEST_DSIR_CUTOFF = -0.5
#: semantic-gate cosine cutoff. The synthetic embeddings are
#: isotropic-random (max pairwise cosine ~0.48 — see the neardup-pairs
#: query's note), so a production-style 0.95 would make the gate
#: vacuous; 0.35 flags roughly the most-similar third of probes within
#: their probed IVF cells at the shipped SFs — enough signal to
#: value-check the gate without emptying the curated set.
INGEST_SEMANTIC_COS = 0.35


def ingestion_topology(
    spark: SparkSession,
    *,
    index_path: str,
    corpus: DataFrame,
    ratios: list[float],
    dsir_cutoff: float = INGEST_DSIR_CUTOFF,
    jaccard_threshold: float = INGEST_JACCARD_THRESHOLD,
    t_num: int = D.CONTAINMENT_THRESHOLD_NUM,
    t_den: int = D.CONTAINMENT_THRESHOLD_DEN,
    id_col: str = "doc_id",
    text: str = "text",
    containment_index_path: str | None = None,
    hash_index_path: str | None = None,
    bloom_index_path: str | None = None,
    ivf_index_path: str | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = INGEST_SEMANTIC_COS,
    semantic_n_probe: int = S.IVF_NPROBE,
    keyset_index_path: str | None = None,
    cache_registry: list | None = None,
    raw_verdicts: bool = False,
) -> Topology:
    """Build the curation-loop topology dict. ``index_path`` is a
    persisted MinHash band index (``build_minhash_index``); ``corpus``
    is the static corpus frame the containment gate probes against;
    ``ratios`` is a trained DSIR log-ratio table
    (``dsir_bucket_ratios``) applied with the quantized (micro-unit
    BIGINT) fold so the gate's threshold can never flip on
    summation-order ULPs. ``containment_index_path`` (a
    ``build_containment_index`` artifact) serves the containment gate
    from persisted posting/sets tables instead of re-shingling
    ``corpus`` per run — the production shape (identical output; the
    t_num/t_den arguments are ignored in favor of the index meta).
    ``hash_index_path`` (a ``build_hash_index`` artifact) prepends the
    exact gate: byte-identical re-crawls are dropped by one md5 +
    bucket-routed hash join before the near-dup gate ever signs them.
    Curated output is identical with or without it (exact dup =>
    Jaccard 1.0 => the near-dup gate drops the same docs) — the gate
    buys per-batch cost, not semantics, which also means enabling it
    never changes the composed pipeline's oracle.
    ``bloom_index_path`` (a ``build_bloom_index`` artifact; requires
    ``hash_index_path``) puts the filter's negative-probe fast path in
    FRONT of the exact gate's confirm join: only maybe-duplicates touch
    the hash index, so a steady-state mostly-new batch resolves the
    exact gate from ~10 bits/doc of probed filter segments alone. Zero
    false negatives structurally; false positives die in the confirm —
    a third layer of the same cost-not-semantics contract.

    ``ivf_index_path`` + ``embeddings`` append the SEMANTIC gate (the
    SemDeDup idea as a serve path): survivors of the lexical gates look
    up their embedding in ``embeddings`` (an id->vector side table —
    the stand-in for "embed the batch"; docs with no embedding pass
    through un-probed) and probe the persisted IVF index
    (``build_ivf_index`` over the corpus vectors); any probe with
    cosine >= ``semantic_threshold`` to a corpus vector within its
    ``semantic_n_probe`` best cells is dropped. This catches the
    paraphrase/translation/re-render duplicates that share no shingles
    — the one duplicate class the lexical gates cannot see.

    Gate outputs: the near-dup and containment gates pass survivor rows
    through unchanged (anti-join on flagged probe ids); the DSIR gate
    adds ``n_tokens`` and ``dsir_logweight_r`` columns to survivors —
    the curated sink therefore carries the batch schema plus those two.

    ``cache_registry``: forwarded to the index probe (its batch path
    caches probe signatures) and holds each gate's cached output;
    long-running callers drain and unpersist it per batch —
    :func:`run_ingestion_stream` does this automatically.

    Every gate's output is CACHED (survivor-batch-sized): each gate
    both derives its verdict from its input and joins the verdict back
    to it, so without the cache the upstream chain re-evaluates once
    per branch — the index probe and its verify join would run ~4x by
    the containment gate. With it, each gate runs exactly once.

    ``raw_verdicts`` (r11, the serve-latency mode — guide §2.6
    "overlap independent work"): compute every gate's FLAG set from the
    RAW trigger batch instead of the previous gate's survivors. Output
    is identical BY CONSTRUCTION: every gate's verdict depends only on
    the individual document versus its index/corpus (never on other
    batch docs' fates), so flags-from-raw is a superset of
    flags-from-survivors whose extra members are exactly rows an
    earlier gate already dropped — the anti-join cascade makes those
    no-ops (pinned per-gate in tests/test_raw_verdicts.py). What it
    buys: the six flag subtrees become INDEPENDENT plans hanging off
    the shallow raw batch, so (a) one sink force runs them as
    concurrent stages instead of a ~20-stage sequential chain — the
    measured 250-row-trigger floor was stage latency, not bytes — and
    (b) the contamination gate needs no lineage-truncation spool (its
    grams explode off the raw batch, depth 1). Cost: a gate probes
    rows an earlier gate would have dropped — bounded by the batch's
    duplicate fraction × that gate's per-row probe cost, the right
    trade for latency-bound triggers (steady-state batches are
    mostly-new). Batch-mode compiles of the chained form (the
    registered queries) are unaffected unless opted in.
    """

    #: per-batch precomputed routing (filled by compile_ingestion /
    #: compute_batch_routing, read by the gate closures at compile time,
    #: cleared after compile — the literals are baked into the plan).
    #: Empty box => every probe falls back to its own routing collect.
    routing_box: dict = {}

    def _pin(df: DataFrame) -> DataFrame:
        if df.isStreaming:  # streaming frames can't cache; foreachBatch
            return df       # hands the gates batch frames anyway
        df = df.cache()
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    def _flag_src(batch: DataFrame) -> DataFrame:
        # raw-verdict mode: derive this gate's FLAGS from the raw trigger
        # batch (set by compile_ingestion for the compile's duration);
        # the anti-join below still runs on the chained input, so the
        # output is identical (see the raw_verdicts contract above).
        if raw_verdicts:
            return routing_box.get("raw_batch", batch)
        return batch

    def _prebuilt(name: str):
        # raw-verdict compile pre-constructs every gate's flag frame in
        # a thread pool (plan CONSTRUCTION is py4j/Catalyst-bound and
        # each flag plan depends only on the raw batch — overlapping the
        # six builds cuts the per-trigger construction wall).
        return routing_box.get("flags", {}).get(name)

    def _exact_flags(src: DataFrame) -> DataFrame:
        if bloom_index_path is not None:
            pairs = D.bloom_gated_exact_probe(
                spark, bloom_index_path, hash_index_path, src,
                text=text, id_col=id_col, cache_registry=cache_registry,
                segments=routing_box.get("bloom_segments"),
                buckets=routing_box.get("hash_buckets"),
            )
        else:
            pairs = D.hash_index_probe(
                spark, hash_index_path, src, text=text, id_col=id_col,
                buckets=routing_box.get("hash_buckets"),
            )
        return pairs.select(F.col("probe_id").alias(id_col)).distinct()

    def exact_gate(batch: DataFrame) -> DataFrame:
        flagged = _prebuilt("exact")
        if flagged is None:
            flagged = _exact_flags(_flag_src(batch))
        return _pin(batch.join(flagged, id_col, "left_anti"))

    def _neardup_flags(src: DataFrame) -> DataFrame:
        pairs = D.minhash_index_probe(
            spark,
            index_path,
            src,
            text=text,
            id_col=id_col,
            threshold=jaccard_threshold,
            cache_registry=cache_registry,
            routing=routing_box.get("minhash_routing"),
            sigs=routing_box.get("minhash_sigs"),
        )
        return pairs.select(F.col("probe_id").alias(id_col)).distinct()

    def neardup_gate(batch: DataFrame) -> DataFrame:
        flagged = _prebuilt("neardup")
        if flagged is None:
            flagged = _neardup_flags(_flag_src(batch))
        # anti-join on a probe-sized key set: AQE broadcasts it.
        return _pin(batch.join(flagged, id_col, "left_anti"))

    def _dsir_keep(src: DataFrame) -> DataFrame:
        scored = T.dsir_score_stateless(
            src, ratios, text=text, id_col=id_col, quantize=True
        )
        return scored.filter(F.col("dsir_logweight_r") >= dsir_cutoff)

    def dsir_gate(batch: DataFrame) -> DataFrame:
        keep = _prebuilt("dsir")
        if keep is None:
            keep = _dsir_keep(_flag_src(batch))
        return _pin(batch.join(keep, id_col))

    def _containment_flags(src: DataFrame) -> DataFrame:
        if containment_index_path is not None:
            pairs = D.containment_index_probe(
                spark,
                containment_index_path,
                src,
                text=text,
                id_col=id_col,
                cache_registry=cache_registry,
                # fused compile pre-guards the raw batch's parallelism
                # once; skip the probe's own .rdd analysis of the
                # gate-deep lineage.
                ensured_parallelism=bool(routing_box),
            )
        else:
            pairs = D.containment_pairs_between(
                src, corpus, text=text, id_col=id_col, t_num=t_num, t_den=t_den
            )
        return pairs.select(F.col("probe_id").alias(id_col)).distinct()

    def containment_gate(batch: DataFrame) -> DataFrame:
        flagged = _prebuilt("containment")
        if flagged is None:
            flagged = _containment_flags(_flag_src(batch))
        return _pin(batch.join(flagged, id_col, "left_anti"))

    def contamination_gate(batch: DataFrame) -> DataFrame:
        # a doc sharing ANY protected 5-gram with the benchmark is a
        # train/test leak — absolute drop, no threshold. Non-protected
        # grams (the overwhelming majority) resolve from the keyset
        # index's bloom segments; only bloom-positives confirm against
        # the exact keys table by raw string.
        from kafka_streams_the_clojure_way_spark.operators import text as TX

        flagged = _prebuilt("contamination")
        if flagged is not None:
            return _pin(batch.join(flagged, id_col, "left_anti"))
        src = _flag_src(batch)
        if raw_verdicts and src is not batch:
            # flags hang off the raw batch (depth-1 lineage): no plan
            # explosion, so no spool/checkpoint truncation needed.
            return _pin(
                batch.join(_contamination_flags(src), id_col, "left_anti")
            )
        if not batch.isStreaming:
            # five gates of verdict-derive-and-join-back lineage feed this
            # point, and the keyset probe references its input several
            # times (need/totals/hits + the confirm and flag joins) — on
            # the RAW lineage that duplication makes the ANALYZED plan
            # tree exponentially large (observed: plan stringification
            # alone OOMs the driver). Truncate it.
            if routing_box:
                # fused path: SPOOL the survivors to a tiny parquet and
                # read back — the same truncation, but the Catalyst
                # planning of the deep chain happens once inside the
                # write job instead of at plan CONSTRUCTION
                # (localCheckpoint builds the RDD eagerly even with
                # eager=False — measured 3.7 s of the per-trigger
                # compile). The spool is batch-survivor-sized; its dir
                # rides the cache registry so the streaming loop deletes
                # it per trigger (the exit sweep backstops registry-less
                # callers).
                spool = scratch_dir("ingest_spool_")
                # natural partitioning — no coalesce(1): collapsing the
                # whole gate chain's final stage to one task serializes
                # the upstream probes (measured 14s -> 34s on a
                # 2000-row trigger); the spool dir dies with the
                # trigger, so its file count is irrelevant.
                batch.write.parquet(f"{spool}/survivors")
                batch = spark.read.parquet(f"{spool}/survivors")
                if cache_registry is not None:
                    cache_registry.append(_SpoolDir(spool))
            else:
                # unfused (per-probe collect) path: lazy RDD truncation,
                # nothing materializes before the sink runs.
                batch = batch.localCheckpoint(eager=False)
        return _pin(batch.join(_contamination_flags(batch), id_col, "left_anti"))

    def _contamination_flags(src: DataFrame) -> DataFrame:
        from kafka_streams_the_clojure_way_spark.operators import text as TX

        grams = src.select(
            F.col(id_col),
            F.explode_outer(TX.shingles_col(F.col(text))).alias("key"),
        ).filter(F.col("key").isNotNull())
        members = D.keyset_index_probe(
            spark, keyset_index_path, grams, cache_registry=cache_registry,
            segments=routing_box.get("keyset_segments"),
            # one segment per key, so the raw batch's gram segments cover
            # the Bloom-positives' — the same superset routes the confirm
            # scan and kills the probe's second adaptive collect.
            confirm_segments=routing_box.get("keyset_segments"),
        )
        return grams.join(members, "key", "left_semi").select(id_col).distinct()

    def _semantic_flags(src: DataFrame) -> DataFrame:
        # batch ids -> vectors via the side table (inner join: a doc
        # with no embedding has no semantic signal and passes through),
        # then one partition-pruned probe of the persisted IVF index.
        probes = src.select(F.col(id_col)).join(
            embeddings.select(
                F.col("vec_id").alias(id_col), F.col("embedding")
            ),
            id_col,
        )
        pairs = S.ivf_index_neardup_pairs(
            spark,
            ivf_index_path,
            probes,
            threshold=semantic_threshold,
            id_col=id_col,
            vec_col="embedding",
            n_probe=semantic_n_probe,
        )
        return pairs.select(F.col("probe_id").alias(id_col)).distinct()

    def semantic_gate(batch: DataFrame) -> DataFrame:
        flagged = _prebuilt("semantic")
        if flagged is None:
            flagged = _semantic_flags(_flag_src(batch))
        return _pin(batch.join(flagged, id_col, "left_anti"))

    entities = {
        "topic/raw-docs": {"type": "topic", "name": "raw-docs"},
        "stream/neardup-gate": {"type": "stream", "xform": neardup_gate},
        "stream/dsir-gate": {"type": "stream", "xform": dsir_gate},
        "stream/containment-gate": {"type": "stream", "xform": containment_gate},
        "topic/curated-docs": {"type": "topic", "name": "curated-docs"},
    }
    head = "topic/raw-docs"
    workflow = []
    if bloom_index_path is not None and hash_index_path is None:
        raise ValueError(
            "bloom_index_path requires hash_index_path — the filter is a "
            "pre-test for the exact gate's confirm join, not a gate itself "
            "(its false positives must die somewhere)"
        )
    if hash_index_path is not None:
        entities["stream/exact-gate"] = {"type": "stream", "xform": exact_gate}
        workflow.append(["topic/raw-docs", "stream/exact-gate"])
        head = "stream/exact-gate"
    workflow += [
        [head, "stream/neardup-gate"],
        ["stream/neardup-gate", "stream/dsir-gate"],
        ["stream/dsir-gate", "stream/containment-gate"],
    ]
    tail = "stream/containment-gate"
    if keyset_index_path is not None:
        entities["stream/contamination-gate"] = {
            "type": "stream",
            "xform": contamination_gate,
        }
        workflow.append([tail, "stream/contamination-gate"])
        tail = "stream/contamination-gate"
    if ivf_index_path is not None:
        if embeddings is None:
            raise ValueError("ivf_index_path requires an embeddings side table")
        entities["stream/semantic-gate"] = {"type": "stream", "xform": semantic_gate}
        workflow.append([tail, "stream/semantic-gate"])
        tail = "stream/semantic-gate"
    workflow.append([tail, "topic/curated-docs"])
    # gate metadata (extra keys are ignored by validate_topology/compile):
    # lets run_ingestion_stream check upsert pairings against the gates
    # this topology actually has.
    gates = {
        "exact": hash_index_path is not None,
        "bloom": bloom_index_path is not None,
        "contamination": keyset_index_path is not None,
        "semantic": ivf_index_path is not None,
    }
    # routing spec + box: lets compile_ingestion/compute_batch_routing
    # derive EVERY gate's partition-routing keys from the raw batch in
    # ONE driver job and hand them to the probes (extra keys are
    # ignored by validate_topology/compile, like "gates").
    routing = {
        "id_col": id_col,
        "text": text,
        "index_path": index_path,
        "hash_index_path": hash_index_path,
        "bloom_index_path": bloom_index_path,
        "keyset_index_path": keyset_index_path,
    }
    # raw-verdict flag builders, topology order (only the gates present):
    # compile_ingestion constructs these concurrently off the raw batch.
    flag_fns: dict = {}
    if raw_verdicts:
        if hash_index_path is not None:
            flag_fns["exact"] = _exact_flags
        flag_fns["neardup"] = _neardup_flags
        flag_fns["dsir"] = _dsir_keep
        flag_fns["containment"] = _containment_flags
        if keyset_index_path is not None:
            flag_fns["contamination"] = _contamination_flags
        if ivf_index_path is not None:
            flag_fns["semantic"] = _semantic_flags
    return {
        "entities": entities,
        "workflow": workflow,
        "gates": gates,
        "routing": routing,
        "routing_box": routing_box,
        "cache_registry": cache_registry,
        "raw_verdicts": raw_verdicts,
        "flag_fns": flag_fns,
    }


def multimodal_ingestion_topology(
    spark: SparkSession,
    *,
    image_index_path: str,
    audio_index_path: str,
    video_index_path: str,
    id_col: str = "doc_id",
    cache_registry: list | None = None,
    probe_sigs: dict | None = None,
) -> Topology:
    """The MULTIMODAL curation loop as a declarative topology (VERDICT
    r9 #8 — §2.1 row 13 applied to assets): raw (id, asset) rows flow

        topic/raw-assets
            │
        stream/decode-gate    permissive FULL decode per modality
            │                 (PNG pixels / WAV samples / Y4M luma —
            │                 asset_decode_gate, ONE fused mapInPandas
            │                 dispatching by mime): a corrupt container
            │                 costs ONE quarantined row, never the job;
            │                 survivors carry their decoded-content
            │                 checksum columns
        stream/neardup-gate   per-modality PERSISTED index probe
            │                 (image pHash bands / audio fingerprint
            │                 postings / video per-frame pHash bands,
            │                 partition-routed) — drop assets whose
            │                 content near-duplicates the corpus
        topic/curated-assets

    Mirrors :func:`ingestion_topology`'s contract: every gate is a
    ``DataFrame -> DataFrame`` xform, so the SAME dict compiles in
    batch mode (the registered oracle-checked query) and serves
    streaming micro-batches through :func:`run_ingestion_stream` with
    identical output (foreachBatch hands the gates batch frames, so the
    probes keep their literal partition routing). Per-batch cost is
    O(batch + probed partitions), independent of corpus size; the
    curated sink carries (id, asset, n_pix, pix_sum) — content-pinned
    survivors.

    ``probe_sigs``: optional precomputed probe signatures per modality
    — ``{"image": (id, phash), "audio": (id, frame_idx, fp), "video":
    (id, frame_idx, phash)}`` frames covering AT LEAST the batch's ids
    (the shared materialized signature tables are exactly this shape)
    — forwarded to the index probes so the near-dup gate never
    re-decodes what was already signed. Superset frames are safe:
    flags for non-batch ids are no-ops in the anti-join."""
    from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP
    from kafka_streams_the_clojure_way_spark.operators import imagehash as IH
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_decode_gate,
    )

    #: per-batch precomputed probe routing (filled by compile_ingestion /
    #: compute_asset_routing, read by the neardup gate at compile time,
    #: cleared after compile). Empty box => each probe falls back to its
    #: own routing collect.
    routing_box: dict = {}

    def _pin(df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return df
        df = df.cache()
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    mime = F.col("asset").getField("mime")

    def decode_gate(batch: DataFrame) -> DataFrame:
        # ONE fused permissive full-decode pass (r11: was 3 per-mime
        # asset_pixel_checksum legs + 2 unions + a join back to a
        # cache-pinned raw batch — the fused kernel dispatches by mime
        # per row, passes the asset through, and emits survivors with
        # their checksums directly, so the raw batch has exactly one
        # consumer and needs no pin). png_any: color-type dispatch — a
        # truecolor/paletted upload decodes instead of quarantining as
        # 'corrupt' (ADVICE r10; grayscale output is bit-identical to
        # the 'png' profile, so the registered oracle is unchanged).
        return _pin(
            asset_decode_gate(
                batch,
                {
                    "image/png": "png_any",
                    "audio/wav": "wav",
                    "video/x-yuv4mpeg": "y4m",
                },
                id_col=id_col,
            )
        )

    def neardup_gate(batch: DataFrame) -> DataFrame:
        sigs = probe_sigs or {}
        flags = (
            IH.phash_index_probe(
                spark, image_index_path, batch.filter(mime == "image/png"),
                cache_registry=cache_registry,
                sigs=sigs.get("image"),
                routing=routing_box.get("image"),
            )
            .select("probe_id")
            .unionByName(
                AFP.audiofp_index_probe(
                    spark, audio_index_path, batch.filter(mime == "audio/wav"),
                    cache_registry=cache_registry,
                    fps=sigs.get("audio"),
                    routing=routing_box.get("audio"),
                ).select("probe_id")
            )
            .unionByName(
                IH.video_phash_index_probe(
                    spark,
                    video_index_path,
                    batch.filter(mime == "video/x-yuv4mpeg"),
                    cache_registry=cache_registry,
                    sigs=sigs.get("video"),
                    routing=routing_box.get("video"),
                ).select("probe_id")
            )
            .select(F.col("probe_id").alias(id_col))
            .distinct()
        )
        return _pin(batch.join(flags, id_col, "left_anti"))

    entities = {
        "topic/raw-assets": {"type": "topic", "name": "raw-assets"},
        "stream/decode-gate": {"type": "stream", "xform": decode_gate},
        "stream/neardup-gate": {"type": "stream", "xform": neardup_gate},
        "topic/curated-assets": {"type": "topic", "name": "curated-assets"},
    }
    workflow = [
        ["topic/raw-assets", "stream/decode-gate"],
        ["stream/decode-gate", "stream/neardup-gate"],
        ["stream/neardup-gate", "topic/curated-assets"],
    ]
    # asset-routing spec + box: when probe_sigs cover the batch,
    # compile_ingestion derives ALL three probes' partition-routing
    # keys in ONE driver job (compute_asset_routing) — without it each
    # probe pays its own eager collect at compile (3 serial jobs,
    # measured 2.6 s of a 3.5 s compile at sf0.1).
    asset_routing = (
        {
            "probe_sigs": probe_sigs,
            "image_index_path": image_index_path,
            "audio_index_path": audio_index_path,
            "video_index_path": video_index_path,
        }
        if probe_sigs
        else None
    )
    return {
        "entities": entities,
        "workflow": workflow,
        "cache_registry": cache_registry,
        "asset_routing": asset_routing,
        "routing_box": routing_box,
    }


def compute_batch_routing(
    spark: SparkSession,
    topology: Topology,
    batch: DataFrame,
    *,
    cache_registry: list | None = None,
) -> dict:
    """ONE driver job for EVERY gate's partition-routing keys — the
    per-trigger compile floor killer (r9's one measured latency floor:
    ~10.8 s/trigger of serial eager routing collects, one per probe,
    `ingest_bench_r9.json`).

    Derives, from the RAW batch, supersets of each probe's routing keys
    (superset pruning is output-identical — every probe's join is exact
    on its full key; see the probes' routing contracts):

    - ``hash_buckets``: pmod(content_hash, n_buckets) per doc;
    - ``bloom_segments``: pmod(content_hash, n_segments) per doc;
    - ``minhash_routing``: packed band*n_buckets+bucket per (doc, band),
      from signatures computed ONCE here and shared with the probe via
      ``minhash_sigs`` (sign the batch once per trigger);
    - ``keyset_segments``: pmod(hash60(gram), n_segments) per 5-gram —
      one segment per key, so it also routes the confirm scan.

    All four legs are row-local projections unioned into one tiny
    distinct (tag, key) frame and collected in a single job. Returns
    the dict `compile_ingestion` feeds the topology's routing box;
    empty when the batch is streaming (foreachBatch hands gates batch
    frames — the streaming serve loop routes per micro-batch)."""
    spec = topology.get("routing")
    if spec is None or batch.isStreaming:
        return {}
    from kafka_streams_the_clojure_way_spark.functions.portable import hash60, kernel
    from kafka_streams_the_clojure_way_spark.operators import text as TX
    from kafka_streams_the_clojure_way_spark.sources.files import (
        with_min_parallelism,
    )

    id_col, text = spec["id_col"], spec["text"]
    base = with_min_parallelism(batch)
    h = kernel(D.content_hash, text)
    legs: list[DataFrame] = []
    expected: list[str] = []
    out: dict = {}

    def leg(df: DataFrame, tag: str) -> None:
        legs.append(
            df.select(F.col("key").cast("long").alias("key"))
            # a NULL text column yields NULL hash/pmod keys; a None
            # bucket can never match a real partition, so dropping it
            # here is output-identical (the unfused per-probe path
            # degrades the same way) — and int(None) would crash the
            # fused collect below.
            .filter(F.col("key").isNotNull())
            .withColumn("tag", F.lit(tag))
        )
        expected.append(tag)

    if spec.get("hash_index_path"):
        meta = D._index_meta(spark, spec["hash_index_path"])
        leg(
            base.select(F.pmod(h, F.lit(meta["n_buckets"])).alias("key")),
            "hash_buckets",
        )
    if spec.get("bloom_index_path"):
        meta = D._index_meta(spark, spec["bloom_index_path"])
        leg(
            base.select(F.pmod(h, F.lit(meta["n_segments"])).alias("key")),
            "bloom_segments",
        )
    if spec.get("index_path"):
        meta = D._index_meta(spark, spec["index_path"])
        n_hashes, bands = meta["n_hashes"], meta["bands"]
        n_buckets, rows = meta["n_buckets"], meta["n_hashes"] // meta["bands"]
        sigs = base.select(
            F.col(id_col), kernel(D.shingle_hashes, text).alias("sh")
        ).withColumn(
            "sig", kernel(D.minhash_from_hashes, "sh", D.minhash_seeds(n_hashes))
        )
        sigs = D.cache_once(sigs, cache_registry)
        out["minhash_sigs"] = sigs
        leg(
            sigs.select(
                F.explode(kernel(D._minhash_band_structs, "sig", bands, rows)).alias("bk")
            ).select(
                (
                    F.col("bk.band") * n_buckets
                    + F.pmod(F.col("bk.bkey"), F.lit(n_buckets))
                ).alias("key")
            ),
            "minhash_routing",
        )
    if spec.get("keyset_index_path"):
        meta = D._index_meta(spark, spec["keyset_index_path"])
        grams = base.select(
            F.explode_outer(TX.shingles_col(F.col(text))).alias("g")
        ).filter(F.col("g").isNotNull())
        leg(
            grams.select(
                F.pmod(hash60(F.col("g")), F.lit(meta["n_segments"])).alias("key")
            ),
            "keyset_segments",
        )
    if not legs:
        return out
    union = legs[0]
    for frame in legs[1:]:
        union = union.unionByName(frame)
    # the union is a pure projection of the batch (plus the sigs
    # cache): batch-bounded (ids + grams), never corpus-bounded
    keys = D.routing_keys(union, "key", "tag")  # the ONE routing job
    out.update({tag: keys.get(tag, []) for tag in expected})
    return out


def compute_asset_routing(spark: SparkSession, topology: Topology) -> dict:
    """ONE driver job for all three modality probes' partition-routing
    keys — the multimodal twin of :func:`compute_batch_routing` (each
    probe otherwise pays its own eager routing collect at compile: 3
    serial jobs, 2.6 s of the 3.5 s multimodal compile at sf0.1).

    Derives, from the topology's precomputed probe signature frames
    (never from payloads — nothing is re-decoded):

    - ``image``: distinct (band, bucket) of the image pHash bands;
    - ``audio``: distinct fingerprint values;
    - ``video``: distinct (band, bucket) of the per-frame pHash bands.

    (band, bucket) pairs ride the union as one packed
    ``band * n_buckets + bucket`` long and unpack on the driver.
    Supersets are output-identical — every probe's candidate join is
    exact on its full key; the routing only prunes directories."""
    spec = topology.get("asset_routing")
    if not spec:
        return {}
    from kafka_streams_the_clojure_way_spark.operators import imagehash as IH
    from kafka_streams_the_clojure_way_spark.operators.dedup import _index_meta

    sigs = spec["probe_sigs"]
    legs: list[DataFrame] = []
    metas: dict[str, dict] = {}

    def banded_leg(tag: str, frame: DataFrame, meta: dict) -> None:
        nb = meta["n_buckets"]
        legs.append(
            frame.select(
                IH._band_structs("phash", meta["n_bands"]).alias("bk")
            )
            .select(
                (
                    F.col("bk.band") * nb + F.pmod(F.col("bk.bkey"), F.lit(nb))
                ).cast("long").alias("key")
            )
            .withColumn("tag", F.lit(tag))
        )

    if sigs.get("image") is not None:
        metas["image"] = _index_meta(spark, spec["image_index_path"])
        banded_leg("image", sigs["image"], metas["image"])
    if sigs.get("audio") is not None:
        metas["audio"] = _index_meta(spark, spec["audio_index_path"])
        legs.append(
            sigs["audio"]
            .select(F.col("fp").cast("long").alias("key"))
            .withColumn("tag", F.lit("audio"))
        )
    if sigs.get("video") is not None:
        metas["video"] = _index_meta(spark, spec["video_index_path"])
        banded_leg("video", sigs["video"], metas["video"])
    if not legs:
        return {}
    union = legs[0]
    for frame in legs[1:]:
        union = union.unionByName(frame)
    # the legs project the probes' own signature frames, which each
    # probe broadcasts: batch-bounded
    keys = D.routing_keys(union, "key", "tag")  # the ONE routing job
    out: dict = {}
    for tag in metas:
        vals = keys.get(tag, [])
        if tag == "audio":
            out[tag] = vals
        else:
            nb = metas[tag]["n_buckets"]
            out[tag] = [divmod(v, nb) for v in vals]
    return out


def compile_ingestion(
    spark: SparkSession,
    topology: Topology,
    batch: DataFrame,
    *,
    fuse_routing: bool = True,
    cache_registry: list | None = None,
) -> dict:
    """Compile the curation topology against one batch frame and return
    the full compiled entity dict. With ``fuse_routing`` (default) every
    probe's partition-routing keys come from ONE
    :func:`compute_batch_routing` job instead of one eager collect per
    gate — same curated set by the superset-routing contract, compile
    cost independent of gate count. The box is cleared after compile:
    the literals are already baked into the returned plans.
    ``cache_registry`` owns the router's shared signature cache;
    defaults to the registry the topology was built with."""
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology

    box = topology.get("routing_box")
    if box is not None:
        box.clear()
    try:
        if fuse_routing and box is not None and not batch.isStreaming:
            # parallelism-guard the RAW batch exactly once (shallow
            # lineage, cheap .rdd probe); the probes skip their own
            # guards when handed precomputed routing, so the fused
            # compile never re-analyzes gate-deep lineage for a
            # partition count.
            from kafka_streams_the_clojure_way_spark.sources.files import (
                with_min_parallelism,
            )

            batch = with_min_parallelism(batch)
            box.update(
                compute_batch_routing(
                    spark,
                    topology,
                    batch,
                    cache_registry=(
                        cache_registry
                        if cache_registry is not None
                        else topology.get("cache_registry")
                    ),
                )
            )
            box.update(compute_asset_routing(spark, topology))
        if (
            topology.get("raw_verdicts")
            and box is not None
            and not batch.isStreaming
        ):
            # raw-verdict gates read their flag source here for the
            # compile's duration (cleared with the box below).
            box["raw_batch"] = batch
            flag_fns = topology.get("flag_fns") or {}
            if flag_fns:
                # Construct every gate's flag plan CONCURRENTLY: plan
                # construction is py4j/Catalyst-bound (~3 s serial per
                # trigger measured at sf0.1) and each flag plan depends
                # only on the raw batch + the routing box filled above,
                # so the builds overlap safely (plan construction is
                # thread-safe; JVM calls release the GIL). In unfused
                # mode each probe's own routing collect rides its
                # thread, so those jobs overlap too (guide §2.6).
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(flag_fns)) as pool:
                    futs = {
                        name: pool.submit(fn, batch)
                        for name, fn in flag_fns.items()
                    }
                    box["flags"] = {
                        name: fut.result() for name, fut in futs.items()
                    }
        return compile_topology(
            spark, topology, {source_topic(topology): batch}
        )
    finally:
        if box is not None:
            box.clear()


def source_topic(topology: Topology) -> str:
    """The topology's input topic: the topic entity with no incoming
    edge (both curation topologies are single-source pipelines)."""
    targets = {dst for _, dst in topology["workflow"]}
    for name, ent in topology["entities"].items():
        if ent.get("type") == "topic" and name not in targets:
            return name
    raise ValueError("topology has no source topic")


def sink_topic(topology: Topology) -> str:
    """The topology's output topic: the topic entity with no outgoing
    edge."""
    sources = {src for src, _ in topology["workflow"]}
    for name, ent in topology["entities"].items():
        if ent.get("type") == "topic" and name not in sources:
            return name
    raise ValueError("topology has no sink topic")


def run_ingestion_batch(
    spark: SparkSession,
    topology: Topology,
    batch: DataFrame,
    *,
    fuse_routing: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """Compile the topology against one batch frame and return the
    curated sink — the offline-simulation shape (≙ run-experiment,
    core.clj:224-234) and what the registered oracle-checked query
    runs. ``fuse_routing=False`` restores the per-probe routing
    collects (the A/B lever the parity tests pin)."""
    compiled = compile_ingestion(
        spark, topology, batch,
        fuse_routing=fuse_routing, cache_registry=cache_registry,
    )
    return compiled[sink_topic(topology)]


def run_ingestion_stream(
    spark: SparkSession,
    topology: Topology,
    stream: DataFrame,
    sink,
    *,
    cache_registry: list | None = None,
    upsert_index_path: str | None = None,
    upsert_hash_index_path: str | None = None,
    upsert_bloom_index_path: str | None = None,
    upsert_containment_index_path: str | None = None,
    upsert_ivf_index_path: str | None = None,
    upsert_image_index_path: str | None = None,
    upsert_audio_index_path: str | None = None,
    upsert_video_index_path: str | None = None,
    embeddings: DataFrame | None = None,
    psi_ref_counts: list[tuple] | None = None,
    psi_sink=None,
    psi_source_col: str = "source",
    compact_every: int | None = None,
    id_col: str = "doc_id",
    text: str = "text",
    assume_new_ids: bool = False,
    checkpoint: str | None = None,
    trigger: dict | None = None,
    fuse_routing: bool | None = None,
):
    """Run the curation topology CONTINUOUSLY: each micro-batch of
    ``stream`` is bound as ``topic/raw-docs``, the topology compiles
    against it inside ``foreachBatch`` (the micro-batch is a plain batch
    frame, so the index probe's static (band, bucket) partition routing
    applies — per-trigger cost independent of corpus size), and the
    curated survivors go to ``sink``.

    ``sink``: a callable ``(curated_df, batch_id) -> None`` or a parquet
    directory path (appended, one file per batch). The callable MUST
    materialize the frame before returning — with ``upsert_index_path``
    the curated batch is added to the MinHash index right after the sink
    runs, and an unmaterialized lazy frame would then see its own batch
    in the index.

    ``upsert_index_path``: close the loop — upsert each batch's CURATED
    survivors into the band index so later batches near-dup against
    everything already admitted, not just the build-time corpus (the
    probe-then-upsert cycle of ``minhash_index_probe_stream``, with the
    quality gates in between). ``upsert_hash_index_path`` does the same
    for the exact gate's hash index — admitted docs are hashed in so a
    byte-identical later arrival is caught at the cheapest gate — and
    ``upsert_containment_index_path`` for the containment gate's index,
    so a later fragment (or concatenation) of an admitted doc is caught
    too. ``upsert_bloom_index_path`` ORs admitted docs' bits into the
    exact gate's Bloom pre-filter (replays idempotent by bit-or; keep
    it paired with the hash-index upsert so the filter never asserts
    membership the confirm join cannot resolve). ``upsert_ivf_index_path`` (requires the same ``embeddings``
    side table the semantic gate uses) adds admitted docs' VECTORS to
    the IVF index through its frozen centroids, so a later semantic
    twin of an admitted doc dies at the semantic gate.

    ``upsert_image_index_path`` / ``upsert_audio_index_path`` /
    ``upsert_video_index_path`` close the MULTIMODAL loop the same way
    (VERDICT r10 #4 — ``audiofp_index_probe_stream``'s probe-then-
    upsert is the template): each trigger's curated ASSET survivors are
    split by modality mime and upserted into the per-modality persisted
    near-dup index, so a re-encoded twin arriving two triggers after
    its original is caught by the neardup gate, not just build-time
    corpus content. Signatures are recomputed from the admitted
    payloads under each index's meta'd decode codec — survivor-batch-
    sized work; replays stay idempotent via the upserts' id anti-joins.
    ``compact_every=N`` compacts the upserted index(es) after every
    N-th upserting batch, first GC-ing the version the previous
    compaction superseded (probes stay snapshot-safe, disk use stays at
    two versions). foreachBatch is at-least-once, so the default
    ``assume_new_ids=False`` keeps replayed batches idempotent via the
    upserts' anti-joins.

    ``psi_ref_counts`` + ``psi_sink``: the drift-monitor tap — every
    RAW micro-batch (pre-gates: drift is a property of what ARRIVES,
    not of what survives curation) is PSI-scored against the trained
    reference (``text.psi_reference_counts``) and the per-source report
    goes to ``psi_sink`` (same callable/path contract as ``sink``);
    ``psi_source_col`` names the grouping column (must match the one
    the reference counts were trained over). Setting ``psi_ref_counts``
    without a sink raises — a silently no-op monitor is a
    misconfiguration, not a default.
    One extra batch scan + grid-sized arithmetic per trigger; the
    curation path is untouched, so enabling the monitor can never
    change the curated set.

    ``cache_registry``: pass the SAME list given to
    :func:`ingestion_topology` — cached frames the gates create are
    unpersisted after every batch (no per-trigger cache leak).

    ``fuse_routing``: ``None`` (default) resolves by topology mode —
    per-probe routing for ``raw_verdicts`` topologies, the fused
    one-job router otherwise. Rationale (r11, measured at sf0.1): the
    raw-verdict compile constructs every gate's flag plan in a thread
    pool, so each probe's own routing collect OVERLAPS the other
    gates' construction (250-row-trigger p50 5.1 s vs 8.0 s with the
    serial fused job in front); a chained topology constructs gates
    sequentially, where six serial collects are exactly what the fused
    router exists to kill.

    Returns the started ``StreamingQuery``; default trigger is
    ``availableNow`` (drain-what-exists, then stop)."""
    if fuse_routing is None:
        fuse_routing = not topology.get("raw_verdicts")
    gates = topology.get("gates", {})
    if (
        upsert_hash_index_path is not None
        and upsert_bloom_index_path is None
        and gates.get("bloom")
    ):
        # with a Bloom pre-filter in the exact gate, hash-upserting
        # admitted docs WITHOUT OR-ing their bits into the filter means a
        # later byte-identical replay gets a Bloom negative and bypasses
        # the hash confirm entirely — the upsert would be silently inert.
        raise ValueError(
            "upsert_hash_index_path without upsert_bloom_index_path, but the "
            "topology's exact gate has a Bloom pre-filter: hash-upserted docs "
            "would never be re-checked (Bloom negative skips the confirm). "
            "Pass upsert_bloom_index_path for the same filter."
        )
    if psi_ref_counts is not None and psi_sink is None:
        raise ValueError(
            "psi_ref_counts without psi_sink: the drift monitor would "
            "silently no-op — pass a psi_sink (callable or parquet path)"
        )
    from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP
    from kafka_streams_the_clojure_way_spark.operators import imagehash as IH

    sink_fn, psi_sink_fn = as_batch_sink(sink), as_batch_sink(psi_sink)
    keyed = {"id_col": id_col, "assume_new_ids": assume_new_ids}

    def of_mime(batch: DataFrame, mime: str) -> DataFrame:
        # each multimodal index takes the admitted assets of its modality
        return batch.filter(F.col("asset").getField("mime") == mime)

    def vectors(batch: DataFrame) -> DataFrame:
        # the IVF index takes the admitted docs' embeddings
        return batch.select(F.col(id_col)).join(
            embeddings.select(F.col("vec_id").alias(id_col), F.col("embedding")),
            id_col,
        ).select(F.col(id_col).alias("vec_id"), F.col("embedding"))

    # (index path, upsert(path, curated), compaction) for every index the
    # loop maintains, in upsert order. The Bloom filter takes no ids:
    # replays are idempotent by bit-or.
    maintained = [
        (path, upsert, compact)
        for path, upsert, compact in (
            (upsert_index_path, lambda p, b: D.minhash_index_upsert(
                spark, p, b, text=text, **keyed), D.compact_minhash_index),
            (upsert_hash_index_path, lambda p, b: D.hash_index_upsert(
                spark, p, b, text=text, **keyed), D.compact_hash_index),
            (upsert_bloom_index_path, lambda p, b: D.bloom_index_upsert(
                spark, p, b, text=text), D.compact_bloom_index),
            (upsert_containment_index_path, lambda p, b: D.containment_index_upsert(
                spark, p, b, text=text, **keyed), D.compact_containment_index),
            (upsert_ivf_index_path, lambda p, b: S.ivf_index_upsert(
                spark, p, vectors(b), assume_new_ids=assume_new_ids),
             S.compact_ivf_index),
            (upsert_image_index_path, lambda p, b: IH.phash_index_upsert(
                spark, p, of_mime(b, "image/png"), **keyed), IH.compact_phash_index),
            (upsert_audio_index_path, lambda p, b: AFP.audiofp_index_upsert(
                spark, p, of_mime(b, "audio/wav"), **keyed),
             AFP.compact_audiofp_index),
            (upsert_video_index_path, lambda p, b: IH.video_phash_index_upsert(
                spark, p, of_mime(b, "video/x-yuv4mpeg"), **keyed),
             IH.compact_video_phash_index),
        )
        if path is not None
    ]

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        if psi_ref_counts is not None and psi_sink_fn is not None:
            report = T.psi_against_reference(
                spark, batch_df, psi_ref_counts, text=text,
                source_col=psi_source_col,
            ).withColumn("batch_id", F.lit(batch_id))
            psi_sink_fn(report, batch_id)
        curated = run_ingestion_batch(
            spark, topology, batch_df,
            fuse_routing=fuse_routing, cache_registry=cache_registry,
        )
        try:
            sink_fn(curated, batch_id)
            for path, upsert, _ in maintained:
                upsert(path, curated)
        finally:
            if cache_registry is not None:
                for frame in cache_registry:
                    frame.unpersist()
                cache_registry.clear()
        if compact_every and (batch_id + 1) % compact_every == 0:
            for path, _, compact in maintained:
                # GC one cycle behind: the version this compaction
                # supersedes stays readable until the next cycle
                D.gc_index_versions(path)
                compact(spark, path)

    return run_foreach_batch(stream, serve, checkpoint=checkpoint, trigger=trigger)
