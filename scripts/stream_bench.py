"""Streaming throughput benchmarks.

Default mode — the reference pipeline (SURVEY.md §6): runs the merged
large-transactions topology (filter -> project -> union,
core.clj:129-134 semantics) over a replicated events input through
Structured Streaming (availableNow) AND plain batch, printing rows/sec.
Context (BASELINE.md): Kafka Streams 2.2 stateless pipelines run at
~10^5-10^6 records/s/core.

``ingestion`` mode (VERDICT r8 #5): drives the SIX-GATE curation
topology (plans/ingestion.run_ingestion_stream) over replayed document
micro-batches — the sf0.1 arriving slice replicated with re-keyed ids,
one parquet file per micro-batch, maxFilesPerTrigger=1 — and reports
rows/s, per-trigger latency (from the StreamingQuery progress feed),
and a per-gate batch-mode cost split (marginal force time of each gate
output in topology order; the compiler's per-gate caches make each
marginal time that gate's own cost). Numbers land in BASELINE.md next
to the 6.3M rows/s reference-pipeline row.

Both modes print each stream's per-trigger p50/max next to the median
per-trigger ``durationMs`` split (``PHASES``): the fixed part of a
trigger (offset and commit logs, planning) against the per-data part
(``addBatch``).

Usage:
  python scripts/stream_bench.py [replication=20]
  python scripts/stream_bench.py ingestion [n_batches=8] [replication=4] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
TMP = os.path.join(ROOT, ".bench_tmp")

EVENT_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def pipeline(df):
    """The reference's merged pipeline over events (≙ core.clj:129-134)."""
    purchases = (
        df.filter(F.col("event_type") == "purchase")
        .select("user_id", F.floor("value").cast("long").alias("amount"))
        .filter(F.col("amount") >= 100)
    )
    donations = (
        df.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.floor(F.floor(F.col("value") * 100) / 100).cast("long").alias("amount"),
        )
        .filter(F.col("amount") >= 100)
    )
    return purchases.unionByName(donations)


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

#: the progress feed's per-trigger ``durationMs`` phases reported per stream
PHASES = ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


def trigger_stats(query) -> dict:
    """p50/max seconds and the median ``durationMs`` of each phase over the
    query's triggers that read rows (``recentProgress`` keeps the last 100)."""
    trig = [p for p in (query.recentProgress or []) if p.get("numInputRows", 0) > 0]
    dur = sorted(p["batchDuration"] / 1000.0 for p in trig)
    return {
        "n_triggers": len(trig),
        "per_trigger_s": {
            "p50": round(dur[len(dur) // 2], 3) if dur else None,
            "max": round(dur[-1], 3) if dur else None,
        },
        "median_duration_ms": {
            k: statistics.median(p["durationMs"].get(k, 0) for p in trig) if trig else None
            for k in PHASES
        },
    }

#: topology order of the six gate outputs (compile entity names).
GATE_ORDER = [
    ("exact", "stream/exact-gate"),
    ("neardup", "stream/neardup-gate"),
    ("dsir", "stream/dsir-gate"),
    ("containment", "stream/containment-gate"),
    ("contamination", "stream/contamination-gate"),
    ("semantic", "stream/semantic-gate"),
]


def ingestion_main() -> None:
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    replication = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    out_json = sys.argv[4] if len(sys.argv) > 4 else None

    from pyspark.sql import functions as F

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        compile_ingestion,
        ingestion_topology,
        run_ingestion_stream,
    )
    from kafka_streams_the_clojure_way_spark.queries.ingestion import (
        _containment_index_path,
        _ingest_bloom_index_path,
        _ingest_hash_index_path,
        _ingest_ivf_index_path,
        _ingest_keyset_path,
        _ingest_ratios,
    )
    from kafka_streams_the_clojure_way_spark.queries.llm_pipeline import (
        _INCR_NEW_MOD,
        _minhash_index_path,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    spark = get_spark("kstcw-ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, SF_DIR, "documents")
    embeddings = load_table(spark, SF_DIR, "embeddings")
    arriving = docs.filter(F.col("doc_id") % _INCR_NEW_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INCR_NEW_MOD != 0)

    # build the same persisted indexes the registry queries use (first
    # touch builds, later runs reuse the per-process cache)
    topo_kw = dict(
        index_path=_minhash_index_path(spark, SF_DIR),
        corpus=corpus,
        ratios=_ingest_ratios(spark, SF_DIR),
        containment_index_path=_containment_index_path(spark, SF_DIR),
        hash_index_path=_ingest_hash_index_path(spark, SF_DIR),
        bloom_index_path=_ingest_bloom_index_path(spark, SF_DIR),
        keyset_index_path=_ingest_keyset_path(spark, SF_DIR),
        ivf_index_path=_ingest_ivf_index_path(spark, SF_DIR),
        embeddings=embeddings,
    )
    caches: list = []
    topo = ingestion_topology(spark, cache_registry=caches, **topo_kw)

    # replayed arriving stream: replication copies with re-keyed ids
    # (kept off the corpus id space AND off each other), one parquet
    # file per micro-batch
    shutil.rmtree(TMP, ignore_errors=True)
    base_max = docs.agg(F.max("doc_id")).collect()[0][0]
    shift = int(base_max) + 1
    parts = [
        arriving.select(
            (F.col("doc_id") + shift * (r + 1)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        for r in range(replication)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(n_batches).write.parquet(f"{TMP}/docs_in")
    n_rows = spark.read.parquet(f"{TMP}/docs_in").count()

    # warm the compile path once (codegen + index meta + parquet schema
    # caches) so the measured triggers price the steady-state loop
    t0 = time.time()
    compiled = compile_ingestion(
        spark, topo, spark.read.parquet(f"{TMP}/docs_in").limit(50)
    )
    compiled["topic/curated-docs"].write.format("noop").mode("overwrite").save()
    warm_s = time.time() - t0
    for fr in caches:
        fr.unpersist()
    caches.clear()

    # per-trigger cost decomposition over ONE full replica batch:
    # COMPILE = the concurrent flag-plan construction with each probe's
    # routing collect; EXECUTE split = marginal force time per gate
    # output over the compiled plan. At corpus scale the
    # construction/routing part is per-TRIGGER and amortizes with batch
    # size — the two batch-size configs below make that visible.
    one_batch = spark.read.parquet(f"{TMP}/docs_in")
    t0 = time.time()
    compiled = compile_ingestion(spark, topo, one_batch)
    compile_s = round(time.time() - t0, 2)
    gate_split = {}
    for gname, entity in GATE_ORDER:
        if entity not in compiled:
            continue
        t0 = time.time()
        compiled[entity].write.format("noop").mode("overwrite").save()
        gate_split[gname] = round(time.time() - t0, 2)
    for fr in caches:
        fr.unpersist()
    caches.clear()

    # canary: the same normalization bench.py applies — host drift is
    # large (BASELINE.md), so the artifact carries its own ruler
    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    canary = float("inf")
    for _ in range(2):
        t0 = time.time()
        QUERIES["agg_pricing_summary"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        canary = min(canary, time.time() - t0)

    # the streaming loop at TWO trigger sizes: all files per trigger
    # amortizes the per-trigger compile cost; one file per trigger
    # prices the low-latency end.
    runs = []
    for label, files_per_trigger in (
        ("all_files_per_trigger", n_batches),
        ("one_file_per_trigger", 1),
    ):
        shutil.rmtree(f"{TMP}/curated_out", ignore_errors=True)
        shutil.rmtree(f"{TMP}/ckpt_ingest", ignore_errors=True)
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(f"{TMP}/docs_in")
        )
        t0 = time.time()
        q = run_ingestion_stream(
            spark,
            topo,
            stream,
            f"{TMP}/curated_out",
            cache_registry=caches,
            checkpoint=f"{TMP}/ckpt_ingest",
            trigger={"availableNow": True},
        )
        while q.isActive:
            q.awaitTermination(5)
        wall_s = time.time() - t0
        survivors = spark.read.parquet(f"{TMP}/curated_out").count()
        stats = trigger_stats(q)
        runs.append(
            {
                "config": label,
                "rows_per_trigger": round(n_rows / max(stats["n_triggers"], 1)),
                "wall_s": round(wall_s, 2),
                "rows_per_sec": round(n_rows / wall_s),
                **stats,
                "survivors": survivors,
            }
        )

    out = {
        "metric": "ingestion_stream_throughput",
        "sf": SF_DIR,
        "gates": [g for g, _ in GATE_ORDER],
        "rows_in": n_rows,
        "canary_sec": round(canary, 3),
        "runs": runs,
        "first_compile_warm_s": round(warm_s, 2),
        "per_trigger_compile_s": compile_s,
        "gate_execute_split_s": gate_split,
        "reading": (
            "per-trigger cost = compile (index-probe routing collects, "
            "fixed per trigger) + execute (scales with batch rows); "
            "throughput amortizes the fixed part with trigger size — "
            "size triggers to the latency budget, not the minimum"
        ),
        "unit": "rows/sec",
    }
    print(json.dumps(out))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(out, fh, indent=1)
    shutil.rmtree(TMP, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "ingestion":
        ingestion_main()
        return
    replication = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    from kafka_streams_the_clojure_way_spark import get_spark

    spark = get_spark("kstcw-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # replicate events to amortize fixed startup out of the rate
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    big = src
    for _ in range(replication - 1):
        big = big.unionByName(src)
    shutil.rmtree(TMP, ignore_errors=True)
    big.write.parquet(f"{TMP}/events_in")
    n_rows = spark.read.parquet(f"{TMP}/events_in").count()

    # batch
    t0 = time.time()
    pipeline(spark.read.parquet(f"{TMP}/events_in")).write.format("noop").mode(
        "overwrite"
    ).save()
    batch_s = time.time() - t0

    # streaming availableNow through the same pipeline
    stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(f"{TMP}/events_in")
    t0 = time.time()
    q = (
        pipeline(stream_in)
        .writeStream.format("noop")
        .option("checkpointLocation", f"{TMP}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    stream_s = time.time() - t0

    cores = spark.sparkContext.defaultParallelism
    print(
        json.dumps(
            {
                "metric": "reference_pipeline_throughput",
                "rows": n_rows,
                "batch_rows_per_sec": round(n_rows / batch_s),
                "stream_rows_per_sec": round(n_rows / stream_s),
                "stream_rows_per_sec_per_core": round(n_rows / stream_s / cores),
                **trigger_stats(q),
                "cores": cores,
                "unit": "rows/sec",
            }
        )
    )
    shutil.rmtree(TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
