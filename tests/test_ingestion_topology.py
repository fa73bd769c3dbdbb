"""The continuous-ingestion curation loop as a declarative topology
(plans/ingestion.py): one dict wires near-dup (persisted index probe),
DSIR, and containment gates; the SAME dict must compile batch-side and
serve streaming micro-batches via foreachBatch with identical output,
close the loop via curated-batch index upserts, and leave no per-trigger
cache residue."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_the_clojure_way_spark.operators.dedup import build_minhash_index
from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios
from kafka_streams_the_clojure_way_spark.plans.ingestion import (
    ingestion_topology,
    run_ingestion_batch,
    run_ingestion_stream,
)
from kafka_streams_the_clojure_way_spark.sources.memory import drain

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# corpus: en docs share a vocabulary ("data pipeline tokens"), the de doc
# uses disjoint vocabulary — so DSIR log-ratios are positive for en-style
# tokens and negative for de-style tokens with cutoff 0.0.
CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today", "en"),
    (2, "spark compiles the data pipeline into stages and tasks for executors", "en"),
    (3, "der schnelle braune fuchs springt heute wieder ueber den faulen hund", "de"),
]
ARRIVING = [
    # near-dup of corpus doc 1 -> dropped by the near-dup gate
    (101, "the quick brown fox jumps over the lazy dog again and again tonight", "en"),
    # en-style vocabulary -> passes DSIR; unrelated to corpus -> survives
    (102, "the data pipeline stages run tasks over executors again", "en"),
    # de-style vocabulary -> dropped by the DSIR gate
    (103, "der schnelle fuchs springt wieder ueber den faulen hund", "de"),
    # strict fragment of corpus doc 2 -> dropped by the containment gate:
    # 6 of doc 2's 11 tokens -> 4 of its 9 shingles, so Jaccard 4/9 < 0.5
    # (passes the near-dup gate) but containment 4/4 = 1.0 >= 0.8
    (104, "spark compiles the data pipeline into", "en"),
]
SURVIVOR_IDS = [102]


def _mk_topology(spark, tmp_path, cache_registry=None):
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    path = str(tmp_path / "ingest_idx")
    build_minhash_index(corpus, path)
    ratios = dsir_bucket_ratios(corpus, F.col("lang") == "en")
    topo = ingestion_topology(
        spark,
        index_path=path,
        corpus=corpus,
        ratios=ratios,
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        cache_registry=cache_registry,
    )
    return topo, path


def test_batch_run_applies_all_three_gates(spark, tmp_path):
    topo, _ = _mk_topology(spark, tmp_path)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    curated = run_ingestion_batch(spark, topo, batch)
    rows = {r.doc_id: r for r in curated.collect()}
    assert sorted(rows) == SURVIVOR_IDS
    # the DSIR gate annotates survivors
    assert set(curated.columns) == {"doc_id", "text", "lang", "n_tokens", "dsir_logweight_r"}
    assert rows[102].dsir_logweight_r > 0
    assert rows[102].n_tokens == 9


def test_each_gate_drops_its_own_doc(spark, tmp_path):
    """Pin WHICH gate kills which arriving doc — the fixture must
    exercise all three, or the parity tests prove less than they claim."""
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology

    topo, _ = _mk_topology(spark, tmp_path)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    compiled = compile_topology(spark, topo, {"topic/raw-docs": batch})
    after_neardup = {r.doc_id for r in compiled["stream/neardup-gate"].select("doc_id").collect()}
    after_dsir = {r.doc_id for r in compiled["stream/dsir-gate"].select("doc_id").collect()}
    after_cont = {r.doc_id for r in compiled["stream/containment-gate"].select("doc_id").collect()}
    assert after_neardup == {102, 103, 104}
    assert after_dsir == {102, 104}
    assert after_cont == {102}


def test_stream_matches_batch(spark, tmp_path):
    """foreachBatch serve parity: the union of per-micro-batch curated
    outputs equals the one-shot batch compile (gates are per-doc
    stateless with upserts off), and no cached frame accumulates per
    trigger."""
    caches: list = []
    topo, _ = _mk_topology(spark, tmp_path, cache_registry=caches)
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    expected = sorted(
        (r.doc_id, r.n_tokens, r.dsir_logweight_r)
        for r in run_ingestion_batch(spark, topo, batch).collect()
    )

    in_dir = tmp_path / "arriving"
    for i, row in enumerate(ARRIVING):
        spark.createDataFrame([row], SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got, n_batches = [], []

    def sink(curated, batch_id):
        n_batches.append(batch_id)
        got.extend(
            (r.doc_id, r.n_tokens, r.dsir_logweight_r) for r in curated.collect()
        )

    n_cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        checkpoint=str(tmp_path / "ingest_ckpt"),
    )
    drain(q)
    assert len(n_batches) >= 2
    assert sorted(got) == expected
    assert caches == []
    # per-trigger caches are drained; only the corpus-side containment
    # frame (ONE entry, plan-deduped across batches) may remain.
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= n_cached_before + 1


def test_upsert_loop_dedups_against_admitted_docs(spark, tmp_path):
    """Closing the loop: with upsert_index_path set, a later batch's
    near-dup of an ALREADY-ADMITTED doc (not in the build-time corpus)
    is dropped; with upserts off it would sail through."""
    topo, path = _mk_topology(spark, tmp_path)
    batches = [
        [ARRIVING[1]],  # 102 admitted
        [(202, ARRIVING[1][1] + " now", "en")],  # near-dup of 102
    ]
    in_dir = tmp_path / "arriving2"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    admitted = []

    def sink(curated, batch_id):
        admitted.extend(r.doc_id for r in curated.collect())

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        upsert_index_path=path,
        compact_every=1,
        checkpoint=str(tmp_path / "ingest_ckpt2"),
    )
    drain(q)
    assert admitted == [102]


def test_topology_probe_stays_partition_routed(spark, tmp_path):
    """Composing the probe into the topology must not lose its serve-path
    contract: the near-dup gate's postings scan still carries the static
    (band, bucket) PartitionFilter built from the batch's keys."""
    import re

    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology

    topo, _ = _mk_topology(spark, tmp_path)
    batch = spark.createDataFrame(ARRIVING[:1], SCHEMA)
    compiled = compile_topology(spark, topo, {"topic/raw-docs": batch})
    plan = (
        compiled["stream/neardup-gate"]._jdf.queryExecution().executedPlan().toString()
    )
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)", plan)
    # r9: the routing predicate is the flat packed-key IN-list
    # ((band * n_buckets) + bucket) IN (...) — see test_minhash_index
    assert any(
        re.search(r"band#\d+ \* ", p) and " IN (" in p for p in pfs
    ), plan[:3000]


def test_to_dot_renders_ingestion_dataflow(spark, tmp_path):
    from kafka_streams_the_clojure_way_spark.plans.viz import to_dot

    topo, _ = _mk_topology(spark, tmp_path)
    dot = to_dot(topo)
    for name in topo["entities"]:
        assert name in dot
    for src, dst in topo["workflow"]:
        assert f'"{src}" -> "{dst}"' in dot


def test_exact_gate_drops_recrawls_before_neardup(spark, tmp_path):
    """With a hash_index_path the topology prepends the exact gate: a
    byte-identical re-crawl must die there, so it is already gone from
    the exact gate's survivors (the near-dup gate's flags, derived from
    the raw batch, flag it too)."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import build_hash_index
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios
    from kafka_streams_the_clojure_way_spark.plans.ingestion import ingestion_topology

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    hx_path = str(tmp_path / "hx_idx")
    build_hash_index(corpus, hx_path)
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        hash_index_path=hx_path,
    )
    # 201 = byte-identical re-crawl of corpus doc 2 under a fresh id
    batch = spark.createDataFrame(
        [(201, CORPUS[1][1], "en")] + ARRIVING, SCHEMA
    )
    compiled = compile_topology(spark, topo, {"topic/raw-docs": batch})
    after_exact = {r.doc_id for r in compiled["stream/exact-gate"].select("doc_id").collect()}
    assert after_exact == {101, 102, 103, 104}, after_exact
    after_neardup = {r.doc_id for r in compiled["stream/neardup-gate"].select("doc_id").collect()}
    assert after_neardup == {102, 103, 104}
    curated = {r.doc_id for r in compiled["topic/curated-docs"].select("doc_id").collect()}
    assert curated == set(SURVIVOR_IDS)


def test_exact_gate_is_semantic_noop(spark, tmp_path):
    """The registered query's oracle argument: curated output with the
    exact gate enabled must be IDENTICAL to the topology without it,
    even when the batch contains byte-identical re-crawls (an exact dup
    has Jaccard 1.0, so the near-dup gate subsumes every exact drop)."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import build_hash_index
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios
    from kafka_streams_the_clojure_way_spark.plans.ingestion import ingestion_topology

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    hx_path = str(tmp_path / "hx_idx")
    build_hash_index(corpus, hx_path)
    common = dict(
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
    )
    batch = spark.createDataFrame(
        [(201, CORPUS[0][1], "en"), (202, CORPUS[1][1], "en")] + ARRIVING, SCHEMA
    )
    with_gate = run_ingestion_batch(
        spark, ingestion_topology(spark, hash_index_path=hx_path, **common), batch
    )
    without_gate = run_ingestion_batch(
        spark, ingestion_topology(spark, **common), batch
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(with_gate) == rows(without_gate)
    assert {r.doc_id for r in with_gate.collect()} == set(SURVIVOR_IDS)


def test_stream_hash_upsert_catches_later_recrawl(spark, tmp_path):
    """Close the exact-gate loop in streaming: with
    upsert_hash_index_path, an admitted doc's hashes join the index, so
    a byte-identical copy arriving in a LATER micro-batch dies at the
    exact gate (only the hash index is upserted here — the minhash index
    stays build-time, isolating the mechanism under test)."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import build_hash_index
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        ingestion_topology,
        run_ingestion_stream,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    hx_path = str(tmp_path / "hx_idx")
    build_hash_index(corpus, hx_path)
    caches: list = []
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        hash_index_path=hx_path,
        cache_registry=caches,
    )
    batches = [
        [ARRIVING[1]],                        # 102 admitted
        [(302, ARRIVING[1][1], "en")],        # byte-identical re-crawl of 102
    ]
    in_dir = tmp_path / "arriving"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    admitted = []

    def sink(curated, batch_id):
        admitted.extend(r.doc_id for r in curated.collect())

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        upsert_hash_index_path=hx_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    assert sorted(admitted) == [102], admitted


def test_stream_containment_upsert_catches_later_fragment(spark, tmp_path):
    """Close the containment-gate loop in streaming: with
    upsert_containment_index_path, an admitted doc's shingle postings
    join the index, so a strict FRAGMENT of it arriving in a later
    micro-batch dies at the containment gate (only the containment
    index is upserted here, isolating the mechanism — the fragment is
    not similar enough to trip the near-dup gate against the admitted
    doc, which is not in the minhash index anyway)."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_containment_index,
        build_minhash_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        ingestion_topology,
        run_ingestion_stream,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    ct_path = str(tmp_path / "ct_idx")
    build_containment_index(corpus, ct_path)
    caches: list = []
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        containment_index_path=ct_path,
        cache_registry=caches,
    )
    batches = [
        [ARRIVING[1]],  # 102 admitted
        # strict fragment of 102 (6 of its 9 tokens -> 4 of 7 shingles:
        # containment 4/4 = 1.0 >= 0.8, Jaccard 4/7 < 0.5 at the near-dup
        # gate if it ever got there)
        [(402, "the data pipeline stages run tasks", "en")],
    ]
    in_dir = tmp_path / "arriving"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    admitted = []

    def sink(curated, batch_id):
        admitted.extend(r.doc_id for r in curated.collect())

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        upsert_containment_index_path=ct_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    assert sorted(admitted) == [102], admitted


# ---------------------------------------------------------------------------
# semantic gate (persisted IVF index over embeddings)
# ---------------------------------------------------------------------------

from pyspark.sql.types import ArrayType, FloatType  # noqa: E402

import pytest

# slow tier (r12): multi-minute suite, deselected by default (pytest.ini)
pytestmark = pytest.mark.slow

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _basis(i, dim=64):
    v = [0.0] * dim
    v[i] = 1.0
    return v


#: id -> embedding for corpus AND arriving docs (the "embed the batch"
#: side table). Doc 105's vector coincides with corpus doc 2's — the
#: paraphrase-class duplicate the lexical gates cannot see.
EMB_ROWS = [
    (1, _basis(3)),
    (2, _basis(0)),
    (3, _basis(4)),
    (101, _basis(5)),
    (102, _basis(1)),
    (103, _basis(6)),
    (104, _basis(7)),
    (105, _basis(0)),  # semantic twin of corpus doc 2
    (403, _basis(1)),  # semantic twin of ARRIVING doc 102
]

# lexically novel (passes near-dup/DSIR/containment) but embedding-
# identical to corpus doc 2 -> must die at the semantic gate only.
SEM_TWIN = (105, "the executors run data stages and schedule pipeline tasks tonight", "en")


def _mk_semantic_topology(spark, tmp_path, cache_registry=None):
    from kafka_streams_the_clojure_way_spark.operators.similarity import (
        build_ivf_index,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    emb = spark.createDataFrame(EMB_ROWS, EMB_SCHEMA)
    ivf_path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb.filter(F.col("vec_id") <= 3), ivf_path)
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        ivf_index_path=ivf_path,
        embeddings=emb,
        cache_registry=cache_registry,
    )
    return topo, ivf_path, emb


def test_semantic_gate_drops_embedding_twin_only(spark, tmp_path):
    """Per-gate attribution with the semantic gate appended: doc 105 is
    lexically clean (survives every shingle-based gate) but its vector
    coincides with a corpus vector -> only the semantic gate kills it;
    doc 102's orthogonal vector sails through."""
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology

    topo, _, _ = _mk_semantic_topology(spark, tmp_path)
    batch = spark.createDataFrame(ARRIVING + [SEM_TWIN], SCHEMA)
    compiled = compile_topology(spark, topo, {"topic/raw-docs": batch})
    after_cont = {
        r.doc_id for r in compiled["stream/containment-gate"].select("doc_id").collect()
    }
    curated = {
        r.doc_id for r in compiled["topic/curated-docs"].select("doc_id").collect()
    }
    assert after_cont == {102, 105}, after_cont  # lexical gates blind to 105
    assert curated == {102}, curated             # semantic gate sees it


def test_stream_ivf_upsert_catches_later_semantic_twin(spark, tmp_path):
    """Close the semantic loop in streaming: with upsert_ivf_index_path,
    an admitted doc's VECTOR joins the IVF index through the frozen
    centroids, so a lexically-novel semantic twin arriving in a later
    micro-batch dies at the semantic gate (only the IVF index is
    upserted here, isolating the mechanism)."""
    caches: list = []
    topo, ivf_path, emb = _mk_semantic_topology(spark, tmp_path, cache_registry=caches)
    batches = [
        [ARRIVING[1]],  # 102 admitted (vector basis(1) upserted)
        # lexically unrelated to 102, but embedding == 102's
        [(403, "executors compile quick stages into lazy tasks for spark today", "en")],
    ]
    in_dir = tmp_path / "arriving"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    admitted = []

    def sink(curated, batch_id):
        admitted.extend(r.doc_id for r in curated.collect())

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        upsert_ivf_index_path=ivf_path,
        embeddings=emb,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    assert sorted(admitted) == [102], admitted


def test_bloom_pretest_is_cost_only_and_requires_confirm(spark, tmp_path):
    """The Bloom pre-filter never changes the curated set: curated
    output with bloom+hash must be IDENTICAL to
    hash-only and to no-exact-gate-at-all, re-crawls included. And a
    bloom without a confirming hash index must be rejected — its false
    positives would have nowhere to die."""
    import pytest

    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_bloom_index,
        build_hash_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    hx_path = str(tmp_path / "hx_idx")
    build_hash_index(corpus, hx_path)
    bf_path = str(tmp_path / "bf_idx")
    build_bloom_index(corpus, bf_path)
    common = dict(
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
    )
    batch = spark.createDataFrame(
        [(201, CORPUS[0][1], "en"), (202, CORPUS[1][1], "en")] + ARRIVING, SCHEMA
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    with_bloom = rows(
        run_ingestion_batch(
            spark,
            ingestion_topology(
                spark, hash_index_path=hx_path, bloom_index_path=bf_path, **common
            ),
            batch,
        )
    )
    hash_only = rows(
        run_ingestion_batch(
            spark, ingestion_topology(spark, hash_index_path=hx_path, **common), batch
        )
    )
    no_gate = rows(
        run_ingestion_batch(spark, ingestion_topology(spark, **common), batch)
    )
    assert with_bloom == hash_only == no_gate
    assert sorted(t[0] for t in with_bloom) == SURVIVOR_IDS
    with pytest.raises(ValueError, match="requires hash_index_path"):
        ingestion_topology(spark, bloom_index_path=bf_path, **common)


def test_stream_bloom_upsert_catches_later_recrawl(spark, tmp_path):
    """Close the exact-gate loop with BOTH layers upserted: an admitted
    doc's bits join the Bloom filter and its hash joins the index, so a
    byte-identical copy in a LATER micro-batch is pre-tested positive by
    the filter and confirmed dead by the hash join."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_bloom_index,
        build_hash_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.text import dsir_bucket_ratios

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    hx_path = str(tmp_path / "hx_idx")
    build_hash_index(corpus, hx_path)
    bf_path = str(tmp_path / "bf_idx")
    build_bloom_index(corpus, bf_path)
    caches: list = []
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        hash_index_path=hx_path,
        bloom_index_path=bf_path,
        cache_registry=caches,
    )
    batches = [
        [ARRIVING[1]],                        # 102 admitted
        [(302, ARRIVING[1][1], "en")],        # byte-identical re-crawl of 102
    ]
    in_dir = tmp_path / "arriving"
    for i, rows_ in enumerate(batches):
        spark.createDataFrame(rows_, SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    admitted = []

    def sink(curated, batch_id):
        admitted.extend(r.doc_id for r in curated.collect())

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        upsert_hash_index_path=hx_path,
        upsert_bloom_index_path=bf_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    assert sorted(admitted) == [102], admitted


def test_contamination_gate_drops_benchmark_leak(spark, tmp_path):
    """The decontamination gate (keyset-index serve path) must drop
    exactly the arriving doc that shares a protected 5-gram with the
    benchmark set, leave the clean survivor untouched, and sit BETWEEN
    the containment and curated nodes in the compiled chain."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_keyset_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.text import (
        dsir_bucket_ratios,
        shingles_col,
    )
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh_path = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, mh_path)
    # protected benchmark: one held-out eval doc, NOT in the corpus
    bench = spark.createDataFrame(
        [(900, "the benchmark evaluation suite holds this exact protected sentence", "en")],
        SCHEMA,
    )
    ks_path = str(tmp_path / "ks_idx")
    build_keyset_index(
        bench.select(F.explode(shingles_col(F.col("text"))).alias("key")), ks_path
    )
    topo = ingestion_topology(
        spark,
        index_path=mh_path,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        keyset_index_path=ks_path,
    )
    # 105: en-style vocabulary (passes DSIR), unrelated to the corpus
    # (passes near-dup/containment), but embeds a protected 5-gram
    leak = (
        105,
        "the data pipeline runs and suite holds this exact protected sentence too",
        "en",
    )
    batch = spark.createDataFrame(ARRIVING + [leak], SCHEMA)
    compiled = compile_topology(spark, topo, {"topic/raw-docs": batch})
    after_cont = {r.doc_id for r in compiled["stream/containment-gate"].select("doc_id").collect()}
    assert 105 in after_cont, "leak doc must reach the decontamination gate"
    after_decon = {r.doc_id for r in compiled["stream/contamination-gate"].select("doc_id").collect()}
    assert after_decon == after_cont - {105}
    curated = {r.doc_id for r in compiled["topic/curated-docs"].select("doc_id").collect()}
    assert curated == set(SURVIVOR_IDS)


def _six_gate_kwargs(spark, tmp_path):
    """ingestion_topology keywords for the COMPLETE production topology
    — exact (bloom+hash), near-dup, DSIR, containment, decontamination,
    semantic — over the module's corpus and embeddings."""
    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_bloom_index,
        build_hash_index,
        build_keyset_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.similarity import (
        build_ivf_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.text import shingles_col

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh, hx, bf, ks, ivf = (str(tmp_path / p) for p in ("mh", "hx", "bf", "ks", "ivf"))
    build_minhash_index(corpus, mh)
    build_hash_index(corpus, hx)
    build_bloom_index(corpus, bf)
    bench = spark.createDataFrame(
        [(900, "the benchmark evaluation suite holds this exact protected sentence", "en")],
        SCHEMA,
    )
    build_keyset_index(
        bench.select(F.explode(shingles_col(F.col("text"))).alias("key")), ks
    )
    emb = spark.createDataFrame(EMB_ROWS, EMB_SCHEMA)
    build_ivf_index(emb.filter(F.col("vec_id") <= 3), ivf)
    return dict(
        index_path=mh,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        dsir_cutoff=0.0,
        jaccard_threshold=0.5,
        hash_index_path=hx,
        bloom_index_path=bf,
        keyset_index_path=ks,
        ivf_index_path=ivf,
        embeddings=emb,
    )


#: the six-gate fixture batch: ARRIVING plus one specialized drop per
#: late gate — the semantic twin, a benchmark leak (106) and a
#: byte-identical re-crawl of corpus doc 2 (201)
SIX_GATE_ROWS = ARRIVING + [
    SEM_TWIN,
    (106, "the data pipeline runs and suite holds this exact protected sentence too", "en"),
    (201, CORPUS[1][1], "en"),
]

#: survivor ids of SIX_GATE_ROWS at every gate entity. Recorded once
#: from the chained compile (each gate's flags derived from the previous
#: gate's survivors) that the raw-batch flags replaced.
SIX_GATE_SURVIVORS = {
    "stream/exact-gate": {101, 102, 103, 104, 105, 106},
    "stream/neardup-gate": {102, 103, 104, 105, 106},
    "stream/dsir-gate": {102, 104, 105, 106},
    "stream/containment-gate": {102, 105, 106},
    "stream/contamination-gate": {102, 105},
    "stream/semantic-gate": {102},
    "topic/curated-docs": {102},
}


def test_six_gate_survivors_at_every_gate(spark, tmp_path):
    """The six-gate compile's survivor ids at EVERY gate entity equal
    the literals the chained compile gave — through compile_ingestion
    (concurrent flag construction, cached gates) and through a direct
    compile_topology (serial, uncached) alike."""
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology
    from kafka_streams_the_clojure_way_spark.plans.ingestion import compile_ingestion

    caches: list = []
    topo = ingestion_topology(
        spark, cache_registry=caches, **_six_gate_kwargs(spark, tmp_path)
    )
    batch = spark.createDataFrame(SIX_GATE_ROWS, SCHEMA)
    for compiled in (
        compile_ingestion(spark, topo, batch),
        compile_topology(spark, topo, {"topic/raw-docs": batch}),
    ):
        got = {
            name: {r.doc_id for r in compiled[name].select("doc_id").collect()}
            for name in SIX_GATE_SURVIVORS
        }
        assert got == SIX_GATE_SURVIVORS
    # compile_ingestion cached the six gates into the topology's registry
    assert len(caches) >= 6
    for frame in caches:
        frame.unpersist()


def test_six_gate_stream_matches_batch(spark, tmp_path):
    """The COMPLETE production topology must serve streaming
    micro-batches with output identical to the one-shot batch compile,
    whose curated set is the pinned one."""
    caches: list = []
    topo = ingestion_topology(
        spark, cache_registry=caches, **_six_gate_kwargs(spark, tmp_path)
    )
    rows = SIX_GATE_ROWS
    batch = spark.createDataFrame(rows, SCHEMA)
    expected = sorted(
        (r.doc_id, r.n_tokens, r.dsir_logweight_r)
        for r in run_ingestion_batch(spark, topo, batch).collect()
    )
    assert {d for d, _, _ in expected} == SIX_GATE_SURVIVORS["topic/curated-docs"]
    for frame in caches:
        frame.unpersist()
    caches.clear()

    in_dir = tmp_path / "arriving"
    for i, row in enumerate(rows):
        spark.createDataFrame([row], SCHEMA).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got = []

    def sink(curated, batch_id):
        got.extend(
            (r.doc_id, r.n_tokens, r.dsir_logweight_r) for r in curated.collect()
        )

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    assert sorted(got) == expected
    assert caches == []


def test_stream_upsert_pairing_and_psi_sink_validation(spark, tmp_path):
    """Misconfigurations must raise at wiring time, not silently no-op:
    (1) hash-upsert without bloom-upsert when the topology's exact gate
    has a Bloom pre-filter (the upserted doc's replay would get a Bloom
    negative and never reach the confirm join); (2) psi_ref_counts
    without a psi_sink (the monitor would score batches into the void)."""
    import pytest

    from kafka_streams_the_clojure_way_spark.operators.dedup import (
        build_bloom_index,
        build_hash_index,
    )

    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    mh = str(tmp_path / "mh")
    hx = str(tmp_path / "hx")
    bf = str(tmp_path / "bf")
    build_minhash_index(corpus, mh)
    build_hash_index(corpus, hx)
    build_bloom_index(corpus, bf)
    topo = ingestion_topology(
        spark,
        index_path=mh,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        hash_index_path=hx,
        bloom_index_path=bf,
    )
    in_dir = tmp_path / "in"
    spark.createDataFrame([CORPUS[0]], SCHEMA).write.parquet(str(in_dir / "b0"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    with pytest.raises(ValueError, match="upsert_bloom_index_path"):
        run_ingestion_stream(
            spark, topo, stream, lambda df, bid: None,
            upsert_hash_index_path=hx,
        )
    with pytest.raises(ValueError, match="psi_sink"):
        run_ingestion_stream(
            spark, topo, stream, lambda df, bid: None,
            psi_ref_counts=[("src0", 0, 1)],
        )
    # the paired form passes wiring validation (bad input path surfaces
    # at stream start, not in the pairing checks we're testing).
    topo_nobloom = ingestion_topology(
        spark,
        index_path=mh,
        corpus=corpus,
        ratios=dsir_bucket_ratios(corpus, F.col("lang") == "en"),
        hash_index_path=hx,
    )
    assert topo_nobloom["gates"] == {
        "exact": True, "bloom": False, "contamination": False, "semantic": False,
    }


def test_six_gate_analyzed_plan_stays_bounded(spark, tmp_path):
    """The decision record for the lineage cut the contamination gate
    once carried. When each gate derived its flags from the previous
    gate's survivors and joined them back, every gate referenced its
    input 2-3x and the analyzed plan grew ~exponentially with gate
    count: merely STRINGIFYING the six-gate sink's plan OOMed the
    driver, so a lazy localCheckpoint (later a parquet spool) cut the
    lineage. The cut is gone because the raw-verdict plan stays bounded
    without it: every flag subtree hangs off the raw batch (depth 1)
    and each gate is one join, so the plan grows linearly. Compiled
    here with no cut, the full sink plan must stay under the same
    bound."""
    from kafka_streams_the_clojure_way_spark.plans.compiler import (
        compile_topology,
    )

    topo = ingestion_topology(spark, **_six_gate_kwargs(spark, tmp_path))
    batch = spark.createDataFrame(ARRIVING, SCHEMA)
    sink = compile_topology(spark, topo, {"topic/raw-docs": batch})[
        "topic/curated-docs"
    ]
    plan = sink._jdf.queryExecution().analyzed().treeString()
    assert len(plan) < 5_000_000, f"analyzed plan ballooned to {len(plan)} chars"


def test_multimodal_stream_matches_batch(spark, tmp_path):
    """The multimodal curation topology (decode-quarantine gate ->
    per-modality persisted index probes -> curated assets) must serve
    streaming micro-batches with output identical to the one-shot batch
    compile, drop at least one asset at each gate on the standard
    fixture, and leave no per-trigger cache residue."""
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        run_ingestion_batch as _rib,
    )
    from kafka_streams_the_clojure_way_spark.plans.compiler import compile_topology
    from kafka_streams_the_clojure_way_spark.queries.ingestion import (
        _multimodal_arriving,
        _multimodal_topology,
    )

    sf = "/root/testdata/sf0.001"
    caches: list = []
    topo = _multimodal_topology(spark, sf, cache_registry=caches)
    assets = _multimodal_arriving(spark, sf)
    n_arriving = assets.count()

    compiled = compile_topology(spark, topo, {"topic/raw-assets": assets})
    after_decode = compiled["stream/decode-gate"].select("doc_id").count()
    curated = compiled["topic/curated-assets"]
    expected = sorted(
        (r.doc_id, r.mime, r.n_pix, r.pix_sum)
        for r in curated.select(
            "doc_id", F.col("asset").getField("mime").alias("mime"),
            "n_pix", "pix_sum",
        ).collect()
    )
    assert expected, "fixture must curate at least one asset"
    assert after_decode < n_arriving, "decode gate must quarantine something"
    assert len(expected) < after_decode, "neardup gate must drop something"
    for fr in caches:
        fr.unpersist()
    caches.clear()

    in_dir = tmp_path / "assets_in"
    assets.repartition(4).write.parquet(str(in_dir))
    stream = (
        spark.readStream.schema(assets.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got = []

    def sink(cur, batch_id):
        got.extend(
            (r.doc_id, r.mime, r.n_pix, r.pix_sum)
            for r in cur.select(
                "doc_id", F.col("asset").getField("mime").alias("mime"),
                "n_pix", "pix_sum",
            ).collect()
        )

    q = run_ingestion_stream(
        spark, topo, stream, sink,
        cache_registry=caches,
        checkpoint=str(tmp_path / "ckpt_mm"),
    )
    drain(q)
    assert sorted(got) == expected
    assert caches == []


def test_multimodal_stream_serve_then_add_catches_intra_stream_twin(
    spark, tmp_path
):
    """VERDICT r10 #4 — the multimodal loop closes: curated asset
    survivors upsert into their modality's persisted near-dup index
    after every trigger (upsert_image/audio/video_index_path), so a
    re-encoded twin arriving a trigger AFTER its original is dropped by
    the neardup gate — previously only build-time corpus content was
    caught. One fresh control asset in the later trigger is still
    admitted (the gate drops twins, not everything)."""
    from kafka_streams_the_clojure_way_spark.operators.audiofp import (
        build_audiofp_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.imagehash import (
        build_phash_index,
        build_video_phash_index,
    )
    from kafka_streams_the_clojure_way_spark.operators.multimodal import (
        encode_text_assets,
    )
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        multimodal_ingestion_topology,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .limit(40)
    )
    ascii_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def enc_mixed(df):
        return (
            encode_text_assets(df.filter(F.col("doc_id") % 3 == 0), "png")
            .unionByName(
                encode_text_assets(df.filter(F.col("doc_id") % 3 == 1), "wav")
            )
            .unionByName(
                encode_text_assets(df.filter(F.col("doc_id") % 3 == 2), "y4m")
            )
        )

    img_path = str(tmp_path / "img_idx")
    aud_path = str(tmp_path / "aud_idx")
    vid_path = str(tmp_path / "vid_idx")
    corpus = docs.filter(F.col("doc_id") < 20)
    build_phash_index(
        encode_text_assets(corpus.filter(F.col("doc_id") % 3 == 0), "png"),
        img_path, decode="png",
    )
    build_audiofp_index(
        encode_text_assets(corpus.filter(F.col("doc_id") % 3 == 1), "wav"),
        aud_path, decode="wav",
    )
    build_video_phash_index(
        encode_text_assets(corpus.filter(F.col("doc_id") % 3 == 2), "y4m"),
        vid_path,
    )

    # fresh originals (one per modality, ids chosen per modality mux).
    # Text is repeated 6x so every VIDEO asset has >= 2 sampled frames —
    # below the video gate's min_frames bar a twin is structurally
    # uncatchable (n_close_frames maxes at 1), which would test nothing.
    long_text = F.concat_ws(
        " ", "text", "text", "text", "text", "text", "text"
    ).alias("text")
    fresh = docs.filter(
        (F.col("doc_id") >= 20) & (F.col("doc_id") < 26)
    ).select("doc_id", long_text)
    # twins: same text with one mid-char substitution, new ids (+1000,
    # same id%3 so the modality matches the original's)
    twins = fresh.select(
        (F.col("doc_id") + 999).alias("doc_id"),  # +999: preserves id%3
        F.expr(
            "concat(substring(text, 1, 10), 'x', substring(text, 12))"
        ).alias("text"),
    ).filter(F.col("doc_id") % 3 == (F.col("doc_id") - 999) % 3)
    # control: a genuinely new doc in the later trigger
    control = docs.filter(
        (F.col("doc_id") >= 26) & (F.col("doc_id") < 29)
    ).select("doc_id", long_text)

    caches: list = []
    topo = multimodal_ingestion_topology(
        spark,
        image_index_path=img_path,
        audio_index_path=aud_path,
        video_index_path=vid_path,
        cache_registry=caches,
    )

    in_dir = tmp_path / "mm_stream_in"
    ckpt = str(tmp_path / "mm_ckpt")
    admitted: list = []

    def sink(cur, batch_id):
        admitted.extend(r.doc_id for r in cur.select("doc_id").collect())

    def drain_once():
        stream = (
            spark.readStream.schema(enc_mixed(fresh).schema)
            .parquet(str(in_dir))
        )
        q = run_ingestion_stream(
            spark, topo, stream, sink,
            cache_registry=caches,
            upsert_image_index_path=img_path,
            upsert_audio_index_path=aud_path,
            upsert_video_index_path=vid_path,
            checkpoint=ckpt,
        )
        drain(q)

    # trigger 1: the fresh originals arrive and are admitted
    enc_mixed(fresh).coalesce(1).write.mode("append").parquet(str(in_dir))
    drain_once()
    fresh_ids = {r.doc_id for r in fresh.collect()}
    assert fresh_ids <= set(admitted)

    # trigger 2 (a later drain of the same checkpointed stream): the
    # twins arrive — every one dies at the neardup gate against the
    # UPSERTED originals; the control assets are admitted
    admitted.clear()
    enc_mixed(twins.unionByName(control)).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    drain_once()
    twin_ids = {r.doc_id for r in twins.collect()}
    control_ids = {r.doc_id for r in control.collect()}
    assert twin_ids and not (twin_ids & set(admitted)), (
        f"intra-stream twins must be dropped: admitted={sorted(admitted)}"
    )
    assert control_ids <= set(admitted)
    assert caches == []
