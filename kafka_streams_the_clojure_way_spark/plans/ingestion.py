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
        │                    drop byte-identical re-crawls. SEMANTICALLY
        │                    a no-op given the near-dup gate (an exact
        │                    dup has Jaccard 1.0 >= any sane threshold),
        │                    so the composed oracle is unchanged by
        │                    construction. Every gate's flags probe the
        │                    whole raw batch, so its drops save no later
        │                    gate any work: it only adds a probe per
        │                    batch (operators/dedup.py)
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
    stream/contamination-gate (optional) keyset-index probe of the
        │                    doc's 5-grams — drop train/test leaks of a
        │                    protected benchmark (operators/dedup.py)
    stream/semantic-gate     (optional) persisted IVF-index probe over
        │                    the docs' EMBEDDINGS (SemDeDup as a serve
        │                    path) — drop docs whose vector has a
        │                    cosine-near corpus vector in its probed
        │                    cells (operators/similarity.py)
    topic/curated-docs

Each gate is two entities. Its FLAGS (``stream/<gate>-flags``; the
DSIR gate's is ``stream/dsir-keep``) is a stream whose only parent is
``topic/raw-docs``: the ids the gate drops (or, for DSIR, the ids it
keeps with their scores), derived from the raw batch alone. The gate
itself is a ``join`` of the previous gate's survivors with its flags —
``left_anti`` on the id column, ``inner`` for DSIR. Deriving flags from
the raw batch instead of the previous gate's survivors gives the same
survivors at every gate: each verdict depends only on the document
versus its index or corpus, never on the other documents in the batch,
so the raw flags add only rows an earlier gate already dropped, and the
joins erase them. What the form buys is independence: the six flag
subtrees hang off the shallow raw batch, so one sink force runs them as
concurrent stages instead of a long sequential chain, and no plan grows
deep enough to need a lineage cut. The cost is that a gate probes rows
an earlier gate would have dropped — the batch's duplicate fraction
times that gate's per-row probe cost, which is small for mostly-new
steady-state batches.

Because every flag and gate is an entity, the SAME topology dict
compiles in batch mode (offline simulation / backfill / the registered
oracle-checked queries) and runs per micro-batch inside ``foreachBatch``
via :func:`run_ingestion_stream` — the streaming serve loop that keeps
the index probes' partition routing (a static join side cannot take a
stream-derived literal filter, so a probe MUST see a batch frame; see
``minhash_index_probe_stream``).

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

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_the_clojure_way_spark.operators import dedup as D
from kafka_streams_the_clojure_way_spark.operators import similarity as S
from kafka_streams_the_clojure_way_spark.operators import text as T
from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology
from kafka_streams_the_clojure_way_spark.plans.spec import Topology, parents_of
from kafka_streams_the_clojure_way_spark.sources.files import with_min_parallelism
from kafka_streams_the_clojure_way_spark.streaming.runner import (
    as_batch_sink,
    run_foreach_batch,
)


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
    raw_verdicts: bool = True,
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
    bucket-routed hash join. Curated output is identical with or
    without it (exact dup => Jaccard 1.0 => the near-dup gate drops the
    same docs), so enabling it never changes the composed pipeline's
    oracle. It removes no downstream work either: every gate's flags
    probe the whole raw batch, so the exact gate only adds its probe to
    each batch. ``bloom_index_path`` (a ``build_bloom_index`` artifact;
    requires ``hash_index_path``) puts the filter's negative-probe fast
    path in FRONT of the exact gate's confirm join: only
    maybe-duplicates touch the hash index. Zero false negatives
    structurally; false positives die in the confirm, so the curated
    set is again unchanged. ``keyset_index_path`` (a
    ``build_keyset_index`` artifact over a benchmark's 5-grams) adds
    the contamination gate.

    ``ivf_index_path`` + ``embeddings`` append the SEMANTIC gate (the
    SemDeDup idea as a serve path): batch docs look up their embedding
    in ``embeddings`` (an id->vector side table — the stand-in for
    "embed the batch"; docs with no embedding are never flagged) and
    probe the persisted IVF index (``build_ivf_index`` over the corpus
    vectors); any probe with cosine >= ``semantic_threshold`` to a
    corpus vector within its ``semantic_n_probe`` best cells is
    dropped. This catches the paraphrase/translation/re-render
    duplicates that share no shingles — the one duplicate class the
    lexical gates cannot see.

    Gate outputs: the anti-join gates pass survivor rows through
    unchanged; the DSIR gate adds ``n_tokens`` and ``dsir_logweight_r``
    columns to survivors — the curated sink therefore carries the batch
    schema plus those two.

    ``cache_registry``: forwarded to the index probes (their batch
    paths cache probe-side frames) and, through
    :func:`compile_ingestion`, holds each gate's cached output;
    long-running callers drain and unpersist it per batch —
    :func:`run_ingestion_stream` does this automatically.

    ``raw_verdicts`` has one legal value, ``True`` (every gate's flags
    derive from the raw batch — the module docstring's form); ``False``
    named the removed chained form and raises."""
    if not raw_verdicts:
        raise ValueError(
            "raw_verdicts=False asked for the chained compile (flags derived "
            "from the previous gate's survivors), which is removed: every "
            "gate's flags derive from the raw batch"
        )
    if bloom_index_path is not None and hash_index_path is None:
        raise ValueError(
            "bloom_index_path requires hash_index_path — the filter is a "
            "pre-test for the exact gate's confirm join, not a gate itself "
            "(its false positives must die somewhere)"
        )
    if ivf_index_path is not None and embeddings is None:
        raise ValueError("ivf_index_path requires an embeddings side table")

    def flagged(pairs: DataFrame) -> DataFrame:
        return pairs.select(F.col("probe_id").alias(id_col)).distinct()

    def exact_flags(raw: DataFrame) -> DataFrame:
        if bloom_index_path is not None:
            return flagged(D.bloom_gated_exact_probe(
                spark, bloom_index_path, hash_index_path, raw,
                text=text, id_col=id_col, cache_registry=cache_registry,
            ))
        return flagged(
            D.hash_index_probe(spark, hash_index_path, raw, text=text, id_col=id_col)
        )

    def neardup_flags(raw: DataFrame) -> DataFrame:
        return flagged(D.minhash_index_probe(
            spark, index_path, raw, text=text, id_col=id_col,
            threshold=jaccard_threshold, cache_registry=cache_registry,
        ))

    def dsir_keep(raw: DataFrame) -> DataFrame:
        scored = T.dsir_score_stateless(
            raw, ratios, text=text, id_col=id_col, quantize=True
        )
        return scored.filter(F.col("dsir_logweight_r") >= dsir_cutoff)

    def containment_flags(raw: DataFrame) -> DataFrame:
        if containment_index_path is not None:
            return flagged(D.containment_index_probe(
                spark, containment_index_path, raw, text=text, id_col=id_col,
                cache_registry=cache_registry,
            ))
        return flagged(D.containment_pairs_between(
            raw, corpus, text=text, id_col=id_col, t_num=t_num, t_den=t_den
        ))

    def contamination_flags(raw: DataFrame) -> DataFrame:
        # a doc sharing ANY protected 5-gram with the benchmark is a
        # train/test leak — absolute drop, no threshold. Non-protected
        # grams (the overwhelming majority) resolve from the keyset
        # index's bloom segments; only bloom-positives confirm against
        # the exact keys table by raw string.
        grams = raw.select(
            F.col(id_col),
            F.explode_outer(T.shingles_col(F.col(text))).alias("key"),
        ).filter(F.col("key").isNotNull())
        members = D.keyset_index_probe(
            spark, keyset_index_path, grams, cache_registry=cache_registry
        )
        return grams.join(members, "key", "left_semi").select(id_col).distinct()

    def semantic_flags(raw: DataFrame) -> DataFrame:
        # batch ids -> vectors via the side table (inner join: a doc
        # with no embedding has no semantic signal and passes through),
        # then one partition-pruned probe of the persisted IVF index.
        probes = raw.select(F.col(id_col)).join(
            embeddings.select(F.col("vec_id").alias(id_col), F.col("embedding")),
            id_col,
        )
        return flagged(S.ivf_index_neardup_pairs(
            spark, ivf_index_path, probes, threshold=semantic_threshold,
            id_col=id_col, vec_col="embedding", n_probe=semantic_n_probe,
        ))

    # (gate, flags entity, flags derivation, join), topology order
    stages = []
    if hash_index_path is not None:
        stages.append(("exact", "stream/exact-flags", exact_flags, "left_anti"))
    stages += [
        ("neardup", "stream/neardup-flags", neardup_flags, "left_anti"),
        ("dsir", "stream/dsir-keep", dsir_keep, "inner"),
        ("containment", "stream/containment-flags", containment_flags, "left_anti"),
    ]
    if keyset_index_path is not None:
        stages.append(
            ("contamination", "stream/contamination-flags", contamination_flags,
             "left_anti")
        )
    if ivf_index_path is not None:
        stages.append(("semantic", "stream/semantic-flags", semantic_flags, "left_anti"))
    entities = {
        "topic/raw-docs": {"type": "topic", "name": "raw-docs"},
        "topic/curated-docs": {"type": "topic", "name": "curated-docs"},
    }
    workflow = []
    prev = "topic/raw-docs"
    for gate, flags, derive, how in stages:
        name = f"stream/{gate}-gate"
        entities[flags] = {"type": "stream", "xform": derive}
        entities[name] = {"type": "join", "on": [id_col], "how": how}
        # parent order decides the join sides: survivors left, flags right
        workflow += [["topic/raw-docs", flags], [prev, name], [flags, name]]
        prev = name
    workflow.append([prev, "topic/curated-docs"])
    # gate metadata (extra keys are ignored by validate_topology/compile):
    # lets run_ingestion_stream check upsert pairings against the gates
    # this topology actually has.
    gates = {
        "exact": hash_index_path is not None,
        "bloom": bloom_index_path is not None,
        "contamination": keyset_index_path is not None,
        "semantic": ivf_index_path is not None,
    }
    return {
        "entities": entities,
        "workflow": workflow,
        "gates": gates,
        "cache_registry": cache_registry,
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

    Each gate is a ``DataFrame -> DataFrame`` xform, and as with
    :func:`ingestion_topology` the SAME dict compiles in batch mode
    (the registered oracle-checked query) and serves streaming
    micro-batches through :func:`run_ingestion_stream` with identical
    output (foreachBatch hands the gates batch frames, so the
    probes keep their literal partition routing). Per-batch cost is
    O(batch + probed partitions), independent of corpus size; the
    curated sink carries (id, asset, n_pix, pix_sum) — content-pinned
    survivors.

    ``probe_sigs``: optional precomputed probe signatures per modality
    — ``{"image": (id, phash), "audio": (id, frame_idx, fp), "video":
    (id, frame_idx, phash)}`` frames covering AT LEAST the batch's ids
    (the shared materialized signature tables are exactly this shape)
    — forwarded to the index probes so the near-dup gate never
    re-decodes what was already signed, and routed in ONE job
    (:func:`compute_asset_routing`) instead of one eager collect per
    probe. Superset frames are safe: flags for non-batch ids are no-ops
    in the anti-join."""
    from kafka_streams_the_clojure_way_spark.operators import audiofp as AFP
    from kafka_streams_the_clojure_way_spark.operators import imagehash as IH
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        asset_decode_gate,
    )

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
        routing = (
            compute_asset_routing(spark, sigs, {
                "image": image_index_path,
                "audio": audio_index_path,
                "video": video_index_path,
            })
            if sigs
            else {}
        )
        flags = (
            IH.phash_index_probe(
                spark, image_index_path, batch.filter(mime == "image/png"),
                cache_registry=cache_registry,
                sigs=sigs.get("image"),
                routing=routing.get("image"),
            )
            .select("probe_id")
            .unionByName(
                AFP.audiofp_index_probe(
                    spark, audio_index_path, batch.filter(mime == "audio/wav"),
                    cache_registry=cache_registry,
                    fps=sigs.get("audio"),
                    routing=routing.get("audio"),
                ).select("probe_id")
            )
            .unionByName(
                IH.video_phash_index_probe(
                    spark,
                    video_index_path,
                    batch.filter(mime == "video/x-yuv4mpeg"),
                    cache_registry=cache_registry,
                    sigs=sigs.get("video"),
                    routing=routing.get("video"),
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
    return {
        "entities": entities,
        "workflow": workflow,
        "cache_registry": cache_registry,
    }


def compute_asset_routing(
    spark: SparkSession, probe_sigs: dict, index_paths: dict
) -> dict:
    """ONE driver job for all three modality probes' partition-routing
    keys (each probe otherwise pays its own eager routing collect at
    compile: 3 serial jobs, 2.6 s of the 3.5 s multimodal compile at
    sf0.1).

    Derives, from the precomputed probe signature frames ``probe_sigs``
    (never from payloads — nothing is re-decoded), with each modality's
    index meta read from ``index_paths``:

    - ``image``: distinct (band, bucket) of the image pHash bands;
    - ``audio``: distinct fingerprint values;
    - ``video``: distinct (band, bucket) of the per-frame pHash bands.

    (band, bucket) pairs ride the union as one packed
    ``band * n_buckets + bucket`` long and unpack on the driver.
    Supersets are output-identical — every probe's candidate join is
    exact on its full key; the routing only prunes directories."""
    from kafka_streams_the_clojure_way_spark.operators import imagehash as IH

    legs: list[DataFrame] = []
    metas: dict[str, dict] = {}
    for tag in ("image", "audio", "video"):
        frame = probe_sigs.get(tag)
        if frame is None:
            continue
        metas[tag] = meta = D._index_meta(spark, index_paths[tag])
        if tag == "audio":
            key = F.col("fp").cast("long")
        else:
            nb = meta["n_buckets"]
            frame = frame.select(IH._band_structs("phash", meta["n_bands"]).alias("bk"))
            key = (F.col("bk.band") * nb + F.pmod(F.col("bk.bkey"), F.lit(nb))).cast("long")
        legs.append(frame.select(key.alias("key"), F.lit(tag).alias("tag")))
    if not legs:
        return {}
    union = legs[0]
    for frame in legs[1:]:
        union = union.unionByName(frame)
    # the legs project the probes' own signature frames, which each
    # probe broadcasts: batch-bounded
    keys = D.routing_keys(union, "key", "tag")  # the ONE routing job
    out: dict = {}
    for tag, meta in metas.items():
        vals = keys.get(tag, [])
        out[tag] = vals if tag == "audio" else [divmod(v, meta["n_buckets"]) for v in vals]
    return out


def compile_ingestion(
    spark: SparkSession,
    topology: Topology,
    batch: DataFrame,
    *,
    cache_registry: list | None = None,
) -> dict:
    """Compile a curation topology against one batch frame and return
    the full compiled entity dict.

    A batch frame is parallelism-guarded once (``with_min_parallelism``:
    a 250-row micro-batch is one partition), so every probe's own guard
    is a no-op and no probe adds a repartition of its own. The stream
    entities whose only parent is the source topic (the text topology's
    six flag derivations) are then constructed CONCURRENTLY off that
    batch and handed to :func:`compile_topology` as bound inputs.
    Plan construction is py4j/Catalyst-bound (JVM calls release the
    GIL), and each probe's own routing collect rides its thread, so
    those jobs overlap too. Then every ``join`` entity's output (a
    gate) is cached into ``cache_registry`` (default: the registry the
    topology was built with): a gate feeds the next gate and any reader
    of its entity, and without the cache each forced entity re-runs
    every gate above it. Called directly, :func:`compile_topology`
    builds the same plans serially and uncached, with the same
    answers."""
    source = source_topic(topology)
    parents = parents_of(topology)
    if not batch.isStreaming:
        batch = with_min_parallelism(batch)
    derived = {
        name: ent["xform"]
        for name, ent in topology["entities"].items()
        if ent["type"] == "stream"
        and ent.get("xform") is not None
        and parents[name] == [source]
    }
    inputs = {source: batch}
    if derived:
        with ThreadPoolExecutor(max_workers=len(derived)) as pool:
            futs = {name: pool.submit(fn, batch) for name, fn in derived.items()}
            inputs.update({name: fut.result() for name, fut in futs.items()})
    compiled = compile_topology(spark, topology, inputs)
    if not batch.isStreaming:  # streaming frames cannot cache
        if cache_registry is None:
            cache_registry = topology.get("cache_registry")
        for name, ent in topology["entities"].items():
            if ent["type"] == "join":
                compiled[name].cache()
                if cache_registry is not None:
                    cache_registry.append(compiled[name])
    return compiled


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
    cache_registry: list | None = None,
) -> DataFrame:
    """Compile the topology against one batch frame and return the
    curated sink — the offline-simulation shape (≙ run-experiment,
    core.clj:224-234) and what the registered oracle-checked queries
    run."""
    compiled = compile_ingestion(spark, topology, batch, cache_registry=cache_registry)
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

    Returns the started ``StreamingQuery``; default trigger is
    ``availableNow`` (drain-what-exists, then stop)."""
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
            spark, topology, batch_df, cache_registry=cache_registry
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
