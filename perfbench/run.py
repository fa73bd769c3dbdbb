"""The repository's benchmark: one command, two workloads, a traced mode.

    python3 perfbench/run.py --workload ref_stream --seed 1 --seconds 15 --trace 0

Each run makes its inputs from ``--seed`` with the out-of-process
generator (``gen.py``, pyarrow only, drawing from the table copies in
``perfbench/data``), runs the workload in a fresh child process
(``sut.py``) on ``local[N]`` with N half the CPUs this process may use
(see ``spark_cpus``), checks the outputs against DuckDB's evaluation of
the engine's oracle SQL, and prints one JSON line last: ``{"correct",
"attempted", "failed", "metrics"}``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones; a traced run runs both
workloads' paths, so that it measures every layer, and also writes its
spans and streaming progress events to ``.perfbench/traces/``. Every run
works in its own directory under ``.perfbench/`` (``TMPDIR``,
``SPARK_LOCAL_DIRS``, JVM temp dir, checkpoints), which is removed at the
end.

Workloads, and why they exist:

ref_stream
    The paper's own dataflow: ``flagship_topology()`` compiled by
    ``compile_topology`` over a parquet file-source stream into a parquet
    sink. Phase 1 drains a pre-written 500,000-row backlog in a fresh
    ``availableNow`` query: once cold, four times untimed, then eight
    timed times. Phase 2, on the JIT the drains warmed, is an open loop:
    the generator renames one 1,000-row events file into the watched
    directory every 1/10 s for 3 s of warm-up and then ``--seconds``, and
    each measured file's latency runs from its due time to the commit of
    the micro-batch that read it (file to batch from the checkpoint's
    source log). The per-trigger fixed cost and the scan dominate; no
    operators, artifacts or Python workers run, so it is the bypass
    workload for those layers.
dedup_batch
    Six ``dedup_*`` registry queries over seed-permuted copies of the
    sf0.01 ``documents`` and ``embeddings`` tables, each forced with a noop
    write: a cold pass in the fresh process, two untimed passes while the
    JIT warms up (the first collects the rows the checks digest), then
    warm passes for ``--seconds`` (at least three). First-touch artifact
    builds (MinHash and hash indexes) and Python-worker start-up and
    codecs (video) fill the cold pass; per-query fixed cost the warm ones.

End-to-end metrics (every workload reports all of them):

setup_s        child start -> first timed operation (imports, session,
               topology compile), once per run: a set-up is a fresh JVM
warm_s         steady state: median timed backlog drain; median warm pass
rows_per_s     ref_stream: backlog rows / the drain's addBatch time (the
               per-data part of a trigger, from its progress events);
               dedup_batch: rows the warm passes' scans read (status
               store) / their summed force time
latency_p50_s  ref_stream: file due -> commit, over >= 100 files per run;
               dedup_batch: across the queries, each query's median
               construct + force over the warm passes
latency_p90_s  the same, 90th percentile (dedup_batch: the slowest query)

The first pass (ref_stream's cold drain, dedup_batch's cold pass) is the
per-layer ``trace.cold_s``: a single sample per fresh process, it spread
by up to 29% between runs of the same code, more than any regression
bound allows. The peak resident memory of the process tree (driver, JVM
and Python workers) is the per-layer ``mem.peak_rss_mb``: with the JVM's
heap sized by its collector it spread 25-80% between runs of one workload.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: ref_stream open loop: files per second and rows per file. Far below
#: capacity: with 5,000-row files a trigger's per-file work was half its
#: time, and a 30% slower host doubled the latency by queueing.
RATE = 10.0
FILE_ROWS = 1_000
#: ref_stream open loop: seconds of files before the measured window. In
#: a fresh JVM trigger times fall for about 15 triggers (0.75 s to 0.5 s);
#: the drains before the open loop take most of that warm-up.
WARMUP_S = 3.0
#: ref_stream open loop: measured seconds when a traced dedup_batch run
#: streams only for the per-layer figures
PROBE_WINDOW_S = 5.0
#: ref_stream backlog: files x rows, drained in phase 1
BACKLOG_FILES = 20
BACKLOG_FILE_ROWS = 25_000
BACKLOG_ROWS = BACKLOG_FILES * BACKLOG_FILE_ROWS
#: a run that has not finished by then is killed and fails
RUN_LIMIT_S = 170.0

END_TO_END = (
    ("setup_s", "s"),
    ("warm_s", "s"),
    ("rows_per_s", "rows/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    from sut import DEDUP_QUERIES, GATES, INDEX_KINDS

    names = [
        ("session.start_s", "s"),
        ("sources.get_batch_s", "s"),
        ("sources.backlog_files_max", "count"),
        ("sources.rows_in", "rows"),
        ("pipelines.rows_out", "rows"),
        ("plans.compile_s", "s"),
        ("plans.ingestion.topology_s", "s"),
        ("plans.ingestion.compile_s", "s"),
        ("plans.ingestion.compile_jobs", "count"),
        ("streaming.triggers", "count"),
        ("streaming.trigger_s", "s"),
        ("streaming.planning_s", "s"),
        ("streaming.add_batch_s", "s"),
        ("streaming.commit_s", "s"),
    ]
    for kind in ("minhash", "containment", "hash", "bloom", "keyset", "ivf", "dsir_ratios"):
        names.append((f"operators.build_s.{kind}", "s"))
    names += [(f"operators.gate_s.{gate}", "s") for gate, _ in GATES]
    names += [(f"operators.index_files.{k}", "count") for k in INDEX_KINDS]
    names += [(f"operators.index_bytes.{k}", "bytes") for k in INDEX_KINDS]
    names.append(("operators.survivor_ratio", "ratio"))
    for q in DEDUP_QUERIES:
        names += [(f"queries.{q}.{m}", "s") for m in ("cold_s", "construct_s", "execute_s")]
    names += [
        ("functions.python_worker_cpu_s", "s"),
        ("exec.jobs", "count"),
        ("exec.stages", "count"),
        ("exec.tasks", "count"),
        ("exec.failed_tasks", "count"),
        ("exec.shuffle_read_bytes", "bytes"),
        ("exec.shuffle_write_bytes", "bytes"),
        ("exec.input_bytes", "bytes"),
        ("exec.input_records", "rows"),
        ("exec.executor_cpu_s", "s"),
        ("exec.gc_s", "s"),
        ("mem.peak_rss_mb", "MB"),
        ("cpu.driver_s", "s"),
        ("cpu.jvm_s", "s"),
        ("disk.tmp_leak_bytes", "bytes"),
        ("generator.late_s", "s"),
        ("host.canary_s", "s"),
        ("rows_per_s_1core", "rows/s"),
        ("trace.cold_s", "s"),
        ("trace.warm_s", "s"),
        ("trace.latency_p50_s", "s"),
    ]
    return names


class TreeSampler(threading.Thread):
    """Samples the child's process tree from /proc every 0.1 s: the peak of
    the summed resident memory, and the last CPU time seen per process."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root_pid: int) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak_rss = 0
        self.cpu: dict[int, tuple[str, float]] = {}
        self.stop = threading.Event()

    def _kind(self, pid: int) -> str:
        if pid == self.root_pid:
            return "driver"
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                exe = os.path.basename(fh.read().split(b"\0", 1)[0].decode())
        except OSError:
            return "other"
        if exe == "java":
            return "jvm"
        return "python_worker" if exe.startswith("python") else "other"

    def sample(self) -> None:
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
        children: dict[int, list[int]] = {}
        for pid, f in stats.items():
            children.setdefault(int(f[1]), []).append(pid)
        todo, rss = [self.root_pid], 0
        while todo:
            pid = todo.pop()
            f = stats.get(pid)
            if f is None:
                continue
            todo += children.get(pid, [])
            rss += int(f[21]) * self.PAGE
            # a launcher script may exec into java later: classify again
            kind = self.cpu.get(pid, ("other",))[0]
            if kind == "other":
                kind = self._kind(pid)
            self.cpu[pid] = (kind, (int(f[11]) + int(f[12])) / self.TICK)
        self.peak_rss = max(self.peak_rss, rss)

    def run(self) -> None:
        while not self.stop.is_set():
            self.sample()
            self.stop.wait(0.1)

    def cpu_by_kind(self, kind: str) -> float:
        return sum(s for k, s in self.cpu.values() if k == kind)


def spark_cpus() -> int:
    """Task threads of the system under test: half the CPUs this process
    may use. The other half runs the JVM's compiler and collector threads,
    the Python driver and workers and the load generator. With a task
    thread on every CPU (local[4] on 4 CPUs) the end-to-end times spread
    two to four times as widely between runs, at the same medians: the
    inputs are small, so per-job fixed costs bound the runs, not tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def gen(*args: str) -> None:
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *args], check=True)


def read_source_log(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the checkpoint's file-source log
    (plain batch files and compacted ones alike)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()[1:]
        for line in lines:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def file_latencies(run: str, skip: int) -> tuple[list[float], int, float, int]:
    """Per open-loop file after the first ``skip`` (the warm-up): due time
    -> commit of its batch. Returns the latencies, the number of files
    never committed, how late the generator ran at worst and the first
    measured batch."""
    ckpt = os.path.join(run, "ckpt")
    batch_of = read_source_log(ckpt)
    latencies, missing, late, first_batch = [], 0, 0.0, None
    with open(os.path.join(run, "gen.log")) as fh:
        for i, line in enumerate(fh):
            rec = json.loads(line)
            late = max(late, rec["actual"] - rec["due"])
            batch = batch_of.get(rec["file"])
            commit = os.path.join(ckpt, "commits", str(batch))
            if batch is None or not os.path.exists(commit):
                missing += 1
                continue
            if i >= skip:
                first_batch = batch if first_batch is None else first_batch
                latencies.append(os.stat(commit).st_mtime - rec["due"])
    return latencies, missing, late, first_batch


def stream_layers(events: list[dict], layers: dict) -> None:
    """Per-trigger medians over the measured window's progress events."""
    events = [e for e in events if e["numInputRows"] > 0]

    def med(*keys: str) -> float:
        return statistics.median(
            sum(e["durationMs"].get(k, 0) for k in keys) for e in events
        ) / 1000

    layers["streaming.triggers"] = len(events)
    layers["streaming.trigger_s"] = med("triggerExecution")
    layers["streaming.planning_s"] = med("queryPlanning")
    layers["streaming.add_batch_s"] = med("addBatch")
    layers["streaming.commit_s"] = med("walCommit", "commitOffsets")
    layers["sources.get_batch_s"] = med("getBatch", "latestOffset")
    layers["sources.rows_in"] = sum(e["numInputRows"] for e in events)


def quantile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, math.ceil(q * len(ordered)) - 1)]


def wait_for(path: str, child: subprocess.Popen, deadline: float) -> None:
    while not os.path.exists(path):
        if child.poll() is not None or time.time() > deadline:
            raise RuntimeError(f"child ended or timed out before {os.path.basename(path)}")
        time.sleep(0.02)


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    if group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    deadline = time.time() + 10
    while group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=("ref_stream", "dedup_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "kafka_streams_the_clojure_way_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    run = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-s{a.seed}-{os.getpid()}")
    # a terminated run still stops its child processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(a, run)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def measure(a: argparse.Namespace, run: str) -> int:
    """One run in the private directory ``run``; returns the exit code."""
    started = time.time()
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run, sub))
    cpus = spark_cpus()
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=os.path.join(run, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run, "local"),
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={run}/tmp -XX:-UsePerfData -XX:ActiveProcessorCount={cpus}"
        ),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)

    # a traced run runs both workloads' paths (see sut.py)
    streams = a.workload == "ref_stream" or a.trace
    data = os.path.join(run, "data")
    # a traced dedup_batch run streams only for the per-layer figures
    window = a.seconds if a.workload == "ref_stream" else min(a.seconds, PROBE_WINDOW_S)
    open_files = math.ceil(RATE * (WARMUP_S + window))
    if a.workload == "dedup_batch" or a.trace:
        # lineitem feeds only the traced run's host canary
        gen("tables", data, "--seed", str(a.seed),
            "--lineitem", str(200_000 if a.trace else 0))
    if streams:
        gen("backlog", f"{run}/backlog", "--seed", str(a.seed),
            "--files", str(BACKLOG_FILES), "--rows", str(BACKLOG_FILE_ROWS))
        # file 0 is there from the start: the first trigger reads it
        gen("stream", f"{run}/watch", "--seed", str(a.seed), "--files", "1",
            "--rows", str(FILE_ROWS), "--rate", str(RATE), "--start", "0",
            "--log", f"{run}/gen0.log")

    # the inputs reach the disk before the clock starts, so their write-back
    # does not land in the measured window
    os.sync()
    cmd = [
        sys.executable, os.path.join(HERE, "sut.py"),
        "--workload", a.workload, "--run", run, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--backlog-rows", str(BACKLOG_ROWS),
        "--out", f"{run}/result.json",
    ]
    spans = None
    if a.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        spans = os.path.join(
            ROOT, ".perfbench", "traces", f"{a.workload}-s{a.seed}-{int(started)}.jsonl"
        )
        cmd += ["--spans", spans]
    deadline = started + RUN_LIMIT_S
    log = open(f"{run}/child.log", "w")
    spawned = time.time()
    child = subprocess.Popen(
        cmd, env=env, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    # the process-tree figures are per-layer: an untraced run does not
    # scan /proc ten times a second beside the system under test
    sampler = TreeSampler(child.pid)
    if a.trace:
        sampler.start()
    generator = failure = None
    try:
        if streams:
            wait_for(f"{run}/ready", child, deadline)
            generator = subprocess.Popen([
                sys.executable, os.path.join(HERE, "gen.py"), "stream", f"{run}/watch",
                "--seed", str(a.seed), "--first", "1", "--files", str(open_files),
                "--rows", str(FILE_ROWS), "--rate", str(RATE),
                "--start", str(time.time() + 1.0), "--log", f"{run}/gen.log",
            ])
            if generator.wait(timeout=max(1.0, deadline - time.time())) != 0:
                raise RuntimeError("generator failed")
            open(f"{run}/gen_done", "w").close()
        code = child.wait(timeout=max(1.0, deadline - time.time()))
        if code != 0:
            raise RuntimeError(f"system under test exited with {code}")
    except (RuntimeError, subprocess.TimeoutExpired) as exc:
        failure = exc
    finally:
        if generator is not None and generator.poll() is None:
            generator.kill()
            generator.wait()
        stop_group(child.pid)
        sampler.stop.set()
        if a.trace:
            sampler.join()
        log.close()
    if failure is not None:
        with open(f"{run}/child.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: {failure}", file=sys.stderr)
        return 1

    with open(f"{run}/result.json") as fh:
        res = json.load(fh)
    errors = list(res["errors"])
    layers = dict(res["layers"])
    outcome = {"attempted": 0, "failed": 0}
    e2e = {}
    if "ref_stream" in res:
        e2e["ref_stream"] = judge_ref_stream(res["ref_stream"], run, open_files, outcome,
                                             errors, layers)
        if e2e["ref_stream"] is None:
            return 1
    if "dedup_batch" in res:
        e2e["dedup_batch"] = judge_dedup_batch(res["dedup_batch"], data, outcome, errors,
                                               layers)
    from sut import dir_stats

    m = dict(e2e[a.workload], setup_s=res["t_first"] - spawned)
    layers["pipelines.rows_out"] = m.pop("rows_out")
    layers["mem.peak_rss_mb"] = sampler.peak_rss / 2**20
    layers["cpu.driver_s"] = sampler.cpu_by_kind("driver")
    layers["cpu.jvm_s"] = sampler.cpu_by_kind("jvm")
    layers["functions.python_worker_cpu_s"] = sampler.cpu_by_kind("python_worker")
    layers["disk.tmp_leak_bytes"] = dir_stats(os.path.join(run, "tmp"))[1]
    layers["trace.cold_s"] = m.pop("cold_s")
    layers["trace.warm_s"] = m["warm_s"]
    layers["trace.latency_p50_s"] = m["latency_p50_s"]
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)

    if a.trace:
        units = dict(per_layer_names())
        unmeasured = sorted(
            k for k in units
            if not isinstance(layers.get(k), (int, float)) or not math.isfinite(layers[k])
        )
        if unmeasured:
            print(f"perfbench: traced run did not measure {unmeasured}", file=sys.stderr)
            return 1
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        with open(spans, "a") as fh:
            fh.write(json.dumps({"run": os.path.basename(run), "metrics": layers}) + "\n")
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({
        "correct": outcome["failed"] == 0 and not errors,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": metrics,
    }))
    return 0


def judge_ref_stream(r: dict, run: str, open_files: int, outcome: dict, errors: list,
                     layers: dict) -> dict | None:
    """Check the streamed sinks and compute ref_stream's end-to-end
    metrics; None if no open-loop file was committed."""
    from checks import check_stream_sink

    latencies, missing, late, first_batch = file_latencies(run, math.ceil(RATE * WARMUP_S))
    if not latencies:
        print("perfbench: no open-loop file was committed", file=sys.stderr)
        return None
    [sink] = check_stream_sink(r["oracle"], f"{run}/watch/*.parquet", [f"{run}/sink/*.parquet"])
    drains_ok = [
        c["ok"] for c in check_stream_sink(
            r["oracle"], f"{run}/backlog/*.parquet", [f"{d}/*.parquet" for d in r["drain_sinks"]]
        )
    ]
    # operations: the warm-up file, each open-loop file, each drain
    outcome["attempted"] += 1 + open_files + len(drains_ok)
    outcome["failed"] += (missing if sink["ok"] else 1 + open_files) + drains_ok.count(False)
    if not sink["ok"]:
        errors.append("ref_stream sink differs from the oracle")
    if drains_ok.count(False):
        errors.append("a ref_stream drain differs from the oracle")
    batch_sizes: dict[int, int] = {}
    for batch in read_source_log(f"{run}/ckpt").values():
        batch_sizes[batch] = batch_sizes.get(batch, 0) + 1
    layers["sources.backlog_files_max"] = max(batch_sizes.values())
    layers["generator.late_s"] = late
    if "progress" in r:
        stream_layers([e for e in r["progress"] if e["batchId"] >= first_batch], layers)
    if late > 0.05:
        print(f"perfbench: generator ran {late:.3f} s late", file=sys.stderr)
    return {
        "rows_out": sink["rows"],
        "cold_s": r["cold_s"],
        "warm_s": statistics.median(r["drain_s"]),
        "rows_per_s": BACKLOG_ROWS / statistics.median(r["add_batch_s"]),
        "latency_p50_s": statistics.median(latencies),
        "latency_p90_s": quantile(latencies, 0.9),
    }


def judge_dedup_batch(r: dict, data: str, outcome: dict, errors: list,
                      layers: dict) -> dict:
    """Check the query results and compute dedup_batch's end-to-end
    metrics and its queries.* layer."""
    from checks import check_queries
    from sut import DEDUP_QUERIES

    passes = r["passes"]
    checked = check_queries(
        r["results"], {t: f"{data}/{t}.parquet" for t in ("documents", "embeddings")}
    )
    bad = [q for q in DEDUP_QUERIES if not checked.get(q, False)]
    errors += [f"{q}: result differs from the oracle" for q in bad]
    attempted = len(passes) * len(DEDUP_QUERIES)
    outcome["attempted"] += attempted
    outcome["failed"] += attempted - sum(len(p) for p in passes) + sum(
        1 for p in passes for q in p if q in bad
    )
    warm = passes[r["warm_from"]:]
    # a query's latency: construct + force, its median over the warm passes
    # (pooled over every (query, pass), the median falls on the boundary
    # between two queries' latencies, where it jumps from run to run)
    latencies = [
        statistics.median(sum(p[q]) for p in warm if q in p)
        for q in DEDUP_QUERIES if any(q in p for p in warm)
    ]
    for q in DEDUP_QUERIES:
        warm_q = [p[q] for p in warm if q in p]
        if q in passes[0]:
            layers[f"queries.{q}.cold_s"] = sum(passes[0][q])
        if warm_q:
            layers[f"queries.{q}.construct_s"] = statistics.median(c for c, _ in warm_q)
            layers[f"queries.{q}.execute_s"] = statistics.median(e for _, e in warm_q)
    return {
        "rows_out": sum(x["rows"] for x in r["results"].values()),
        "cold_s": sum(c + e for c, e in passes[0].values()),
        "warm_s": statistics.median(sum(c + e for c, e in p.values()) for p in warm),
        "rows_per_s": r["warm_input_records"] / sum(e for p in warm for _, e in p.values()),
        "latency_p50_s": statistics.median(latencies),
        "latency_p90_s": quantile(latencies, 0.9),
    }


if __name__ == "__main__":
    sys.exit(main())
