"""The benchmark's driver of the system under test.

``run.py`` starts this script in a fresh process for every run. It runs
one workload in one Spark session on inputs the generator already wrote,
and writes what it timed to ``--out`` as JSON. It measures the engine
only from outside: it times calls into public functions and, in a traced
run (``--trace 1``), also reads Spark's status store and streaming
progress events and records spans (name, start, end, parent, run id)
around each call, kept in memory and written to ``--spans`` at the end.

A traced run runs the layer sweep: the named workload first, as in an
untraced run, then the other workload's path in short form (one warm
pass, two drains), then the host canary and the single-core drain, so
that every per-layer metric is measured in every traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from kafka_streams_the_clojure_way_spark import get_spark
from kafka_streams_the_clojure_way_spark.plans import compile_topology
from kafka_streams_the_clojure_way_spark.queries import ORACLES, QUERIES
from kafka_streams_the_clojure_way_spark.queries.reference_queries import (
    flagship_topology,
)

from checks import digest

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
#: the oracle both streamed sinks are checked against
REF_ORACLE = "ref_topology_large_transactions"
#: full drains of the same backlog; warm_s and rows_per_s are their median
#: (with three drains of a 1.5M-row backlog their spread was 0.2-0.25)
DRAINS = 8
#: untimed drains after the cold one: in a fresh process drain times still
#: fell by up to a quarter over the first ten drains
WARMUP_DRAINS = 4
#: drains, and warm dedup passes, of a workload's path run as the second
#: part of a traced run
PROBE_DRAINS = 2
PROBE_WARM_PASSES = 1
#: The dedup_* registry queries dedup_batch runs: one per persisted index
#: kind the serve path probes by hash or band (minhash, hash), a
#: Python-worker codec path (video) and two shuffle-heavy pair finders.
#: The other 18 dedup_* queries are left out to fit a run's time budget:
#: the cold pass of all 24 takes 82-96 s (audio fingerprints alone 24 s),
#: and image_phash_pairs repeats video's codec path for about 5 s a run;
#: the traced run still builds and probes the containment index in
#: ``ingestion_probe``.
DEDUP_QUERIES = (
    "dedup_exact_documents",
    "dedup_incremental_exact_indexed",
    "dedup_incremental_indexed",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "dedup_video_phash_pairs",
)
#: the six-gate curation topology's gate outputs, in topology order
GATES = (
    ("exact", "stream/exact-gate"),
    ("neardup", "stream/neardup-gate"),
    ("dsir", "stream/dsir-gate"),
    ("containment", "stream/containment-gate"),
    ("contamination", "stream/contamination-gate"),
    ("semantic", "stream/semantic-gate"),
)
#: rows of the trigger-sized batch the traced run compiles the curation
#: topology against (re-keyed replicas of the arriving slice)
INGEST_BATCH_ROWS = 250
INDEX_KINDS = ("minhash", "hash", "bloom", "containment")


class Tracer:
    """In-memory spans; a no-op unless enabled."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        """Spans, then every streaming progress event, one JSON line each."""
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
            for event in self.progress:
                fh.write(json.dumps({"progress": event, "run": self.run_id}) + "\n")


def timed(fn, *args, **kwargs):
    t0 = time.time()
    out = fn(*args, **kwargs)
    return out, time.time() - t0


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def exec_stats(spark, groups: set[str] | None = None) -> dict[str, float]:
    """Sum the status store's stage metrics over the jobs of ``groups``
    (every job if None)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.length()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if groups is not None and (not group.isDefined() or group.get() not in groups):
            continue
        n_jobs += 1
        ids = job.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.length()))
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = dict.fromkeys(
        (
            "exec.stages", "exec.tasks", "exec.failed_tasks",
            "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
            "exec.input_bytes", "exec.input_records", "exec.executor_cpu_s",
            "exec.gc_s",
        ),
        0.0,
    )
    out["exec.jobs"] = n_jobs
    for i in range(stages.length()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += s.numTasks()
        out["exec.failed_tasks"] += s.numFailedTasks()
        out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
        out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["exec.input_bytes"] += s.inputBytes()
        out["exec.input_records"] += s.inputRecords()
        out["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["exec.gc_s"] += s.jvmGcTime() / 1e3
    return out


def max_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)


def frozen_canary(spark, data: str) -> float:
    """bench.py's frozen canary: a direct parquet scan plus aggregate with
    no engine module in the loop, best of two."""
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        li = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
        force(
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"),
                F.avg("l_discount"), F.count("*"),
            )
        )
        best = min(best, time.time() - t0)
    return best


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


# ---------------------------------------------------------------- ref_stream


def topic_inputs(events) -> dict:
    """Bind the flagship topology's two source topics to an events frame,
    as ``purchases_stream`` / ``donations_stream`` do for the batch table."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.floor(F.col("value")).cast("long").alias("amount"),
    )
    donations = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.floor(F.col("value") * F.lit(100)).cast("long").alias("donation_amount_cents"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("donation_date"),
    )
    return {"topic/purchase-made": purchases, "topic/humble-donation-made": donations}


def start_ref_stream(spark, tracer, src: str, sink: str, ckpt: str, drain: bool):
    """Compile the flagship topology over a file-source stream of ``src``
    and start it into a parquet sink. Returns (query, compile seconds)."""
    events = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    with tracer.span("compile_topology"):
        compiled, compile_s = timed(
            compile_topology, spark, flagship_topology(), topic_inputs(events)
        )
    writer = (
        compiled["topic/large-transaction-made"]
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
    )
    if drain:
        writer = writer.trigger(availableNow=True)
    return writer.start(), compile_s


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event (``recentProgress`` keeps 100)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def settle(listener) -> list[dict]:
    """Progress events arrive asynchronously: wait until they stop coming."""
    seen = -1
    while seen != len(listener.events):
        seen = len(listener.events)
        time.sleep(0.5)
    return listener.events


def drain_backlog(
    spark, tracer, run: str, k: int, out: dict | None = None
) -> tuple[float, float]:
    """Drain the whole backlog in a fresh query (``availableNow``). Returns
    its wall time and the summed ``addBatch`` time of its triggers. The
    first drain of a run (``out`` given) also marks the end of set-up."""
    q, compile_s = start_ref_stream(
        spark, tracer, f"{run}/backlog", f"{run}/drain{k}", f"{run}/ckpt_drain{k}", True
    )
    t0 = time.time()
    if out is not None:
        out["t_first"], out["compile_s"] = t0, compile_s
    with tracer.span(f"drain{k}"):
        q.awaitTermination()
    wall = time.time() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    add_batch = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000
    return wall, add_batch


def ref_stream(spark, tracer, a, res: dict, native: bool) -> None:
    run = a.run
    out = res["ref_stream"] = {}
    # the drains come first, so that both they and the open loop after them
    # run on a warm JIT: the first drain is the cold one, then untimed ones
    out["cold_s"], _ = drain_backlog(spark, tracer, run, 0, out)
    for k in range(1, 1 + WARMUP_DRAINS):
        drain_backlog(spark, tracer, run, k)
    n = DRAINS if native else PROBE_DRAINS
    first = 1 + WARMUP_DRAINS
    drains = [drain_backlog(spark, tracer, run, k) for k in range(first, first + n)]
    out["drain_s"] = [d[0] for d in drains]
    out["add_batch_s"] = [d[1] for d in drains]
    out["drain_sinks"] = [f"{run}/drain{k}" for k in range(first + n)]
    q, _ = start_ref_stream(spark, tracer, f"{run}/watch", f"{run}/sink", f"{run}/ckpt", False)
    with tracer.span("first_trigger"):
        q.processAllAvailable()
    # open loop: run.py starts the generator now and says when it is done
    open(f"{run}/ready", "w").close()
    with tracer.span("open_loop"):
        while not os.path.exists(f"{run}/gen_done"):
            time.sleep(0.02)
        q.processAllAvailable()
    q.stop()
    out["run_id"] = str(q.runId)
    out["oracle"] = ORACLES[REF_ORACLE]
    if a.trace:
        res["layers"]["plans.compile_s"] = out["compile_s"]


# --------------------------------------------------------------- dedup_batch


def run_pass(
    spark, tracer, data: str, tag: str, groups: list, errors: list
) -> dict[str, tuple]:
    """One pass over DEDUP_QUERIES: construct then force each query in its
    own job group. Returns {query: (construct_s, execute_s)}."""
    out = {}
    for q in DEDUP_QUERIES:
        group = f"{q}#{tag}"
        spark.sparkContext.setJobGroup(group, group)
        groups.append(group)
        try:
            with tracer.span(f"{q}#{tag}"):
                with tracer.span("construct"):
                    df, construct_s = timed(QUERIES[q], spark, data)
                with tracer.span("force"):
                    _, execute_s = timed(force, df)
            out[q] = (construct_s, execute_s)
        except Exception as exc:  # a failed query is counted, the run goes on
            errors.append(f"{group}: {type(exc).__name__}: {exc}"[:500])
    return out


def ingestion_probe(spark, tracer, data: str, index_dir: str, layers: dict) -> None:
    """Traced run only: build the curation topology's indexes over the
    corpus slice, compile it against one trigger-sized batch and force
    each gate's output in topology order (marginal cost per gate)."""
    from kafka_streams_the_clojure_way_spark.operators import dedup as D
    from kafka_streams_the_clojure_way_spark.operators import similarity as S
    from kafka_streams_the_clojure_way_spark.operators import text as T
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        compile_ingestion,
        ingestion_topology,
    )
    from kafka_streams_the_clojure_way_spark.sources.files import load_table

    docs = load_table(spark, data, "documents")
    embeddings = load_table(spark, data, "embeddings")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    arriving = docs.filter(F.col("doc_id") % 10 == 0)
    bench = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode_outer(T.shingles_col(F.col("text"))).alias("key"))
        .filter(F.col("key").isNotNull())
    )
    path = {k: f"{index_dir}/{k}" for k in (*INDEX_KINDS, "keyset", "ivf")}
    builds = (
        ("minhash", lambda: D.build_minhash_index(corpus, path["minhash"])),
        ("containment", lambda: D.build_containment_index(corpus, path["containment"])),
        ("hash", lambda: D.build_hash_index(corpus, path["hash"])),
        ("bloom", lambda: D.build_bloom_index(corpus, path["bloom"])),
        ("keyset", lambda: D.build_keyset_index(bench, path["keyset"])),
        ("ivf", lambda: S.build_ivf_index(
            embeddings.filter(F.col("vec_id") % 10 != 0), path["ivf"])),
        ("dsir_ratios", lambda: T.dsir_bucket_ratios(corpus, F.col("lang") == "en")),
    )
    built = {}
    for kind, build in builds:
        with tracer.span(f"build.{kind}"):
            built[kind], layers[f"operators.build_s.{kind}"] = timed(build)
    caches: list = []
    with tracer.span("ingestion_topology"):
        topo, layers["plans.ingestion.topology_s"] = timed(
            ingestion_topology,
            spark,
            index_path=path["minhash"],
            corpus=corpus,
            ratios=built["dsir_ratios"],
            containment_index_path=path["containment"],
            hash_index_path=path["hash"],
            bloom_index_path=path["bloom"],
            keyset_index_path=path["keyset"],
            ivf_index_path=path["ivf"],
            embeddings=embeddings,
            cache_registry=caches,
            raw_verdicts=True,
        )
    n_arriving = arriving.count()
    replicas = max(1, INGEST_BATCH_ROWS // max(n_arriving, 1))
    parts = [
        arriving.select(
            (F.col("doc_id") + 10_000_000 * (r + 1)).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        for r in range(replicas)
    ]
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p)
    batch = batch.cache()
    n_batch = batch.count()
    first_job = max_job_id(spark)
    with tracer.span("compile_ingestion"):
        compiled, layers["plans.ingestion.compile_s"] = timed(
            compile_ingestion, spark, topo, batch
        )
    layers["plans.ingestion.compile_jobs"] = max_job_id(spark) - first_job
    for gate, entity in GATES:
        with tracer.span(f"gate.{gate}"):
            _, layers[f"operators.gate_s.{gate}"] = timed(force, compiled[entity])
    survivors = compiled["stream/semantic-gate"].count()
    layers["operators.survivor_ratio"] = survivors / n_batch
    for kind in INDEX_KINDS:
        files, size = dir_stats(path[kind])
        layers[f"operators.index_files.{kind}"] = files
        layers[f"operators.index_bytes.{kind}"] = size
    for frame in caches:
        frame.unpersist()
    batch.unpersist()


def digest_pass(spark, data: str, out: dict, errors: list) -> None:
    """Collect every query's rows and digest them, untimed."""
    out["results"] = {}
    for q in DEDUP_QUERIES:
        try:
            df = QUERIES[q](spark, data)
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            errors.append(f"{q}#digest: {type(exc).__name__}: {exc}"[:500])
            continue
        out["results"][q] = {
            "rows": len(rows), "digest": digest(df.columns, rows), "oracle": ORACLES[q],
        }


def dedup_batch(spark, tracer, a, res: dict, native: bool) -> None:
    data = f"{a.run}/data"
    out = res["dedup_batch"] = {"groups": []}
    out["t_first"] = time.time()
    passes = [run_pass(spark, tracer, data, "cold", out["groups"], res["errors"])]
    # two untimed passes, the digests and one more: the JIT keeps warming
    # for about four passes after the cold one (4.1, 3.3, 2.9, 2.8 s, then
    # about 2.5 s with seven queries on 4 CPUs)
    digest_pass(spark, data, out, res["errors"])
    if native:
        passes.append(run_pass(spark, tracer, data, "jit", out["groups"], res["errors"]))
    out["warm_from"] = warm_from = len(passes)
    warm_start, pass_s = time.time(), 0.0
    # at least three warm passes, and no pass that would end after --seconds
    while len(passes) < warm_from + PROBE_WARM_PASSES or native and (
        len(passes) < warm_from + 3
        or time.time() - warm_start + pass_s <= a.seconds
    ):
        tag = f"warm{len(passes)}"
        t0 = time.time()
        passes.append(run_pass(spark, tracer, data, tag, out["groups"], res["errors"]))
        pass_s = time.time() - t0
    out["passes"] = [{q: list(v) for q, v in p.items()} for p in passes]
    warm_groups = {g for g in out["groups"] if "#warm" in g}
    out["warm_input_records"] = exec_stats(spark, warm_groups)["exec.input_records"]
    if a.trace:
        ingestion_probe(spark, tracer, data, f"{a.run}/index", res["layers"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ref_stream", "dedup_batch"))
    ap.add_argument("--run", required=True, help="the run's private directory")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--backlog-rows", dest="backlog_rows", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    a = ap.parse_args()
    tracer = Tracer(bool(a.trace), os.path.basename(a.run))
    res: dict = {"errors": [], "layers": {}}
    layers = res["layers"]
    with tracer.span("get_spark"):
        spark, layers["session.start_s"] = timed(get_spark, "perfbench", extra_conf={
            # keep every job and stage in the status store for exec_stats
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # keep every commit file: a file's latency ends at its mtime
            "spark.sql.streaming.minBatchesToRetain": "1000000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    listener = ProgressLog()
    if a.trace:
        spark.streams.addListener(listener)
    parts = {"ref_stream": ref_stream, "dedup_batch": dedup_batch}
    order = [a.workload] + ([w for w in parts if w != a.workload] if a.trace else [])
    for w in order:
        parts[w](spark, tracer, a, res, native=w == a.workload)
    res["t_first"] = res[a.workload]["t_first"]
    if a.trace:
        tracer.progress = settle(listener)
        run_id = res["ref_stream"]["run_id"]
        res["ref_stream"]["progress"] = [e for e in tracer.progress if e["runId"] == run_id]
        layers.update(exec_stats(spark))
        layers["host.canary_s"] = frozen_canary(spark, f"{a.run}/data")
        # the single-threaded baseline: the same drain on local[1]
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_spark("perfbench-1core")
        spark.sparkContext.setLogLevel("ERROR")
        k = len(res["ref_stream"]["drain_sinks"])
        drain_s, _ = drain_backlog(spark, tracer, a.run, k)
        layers["rows_per_s_1core"] = a.backlog_rows / drain_s
        res["ref_stream"]["drain_sinks"].append(f"{a.run}/drain{k}")
    if a.spans:
        tracer.write(a.spans)
    with open(a.out + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.rename(a.out + ".tmp", a.out)
    # run.py kills what is left of the process group: a graceful stop of the
    # session and JVM would only add 2-3 s to every run
    os._exit(0)


if __name__ == "__main__":
    main()
