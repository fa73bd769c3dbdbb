"""Self-test of the benchmark: each output check must reject one corrupted
output, each workload must run end to end at minimal size, untraced and
traced, and the command must refuse to run without the engine's sources.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

import gen
from checks import check_queries, check_stream_sink, digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from kafka_streams_the_clojure_way_spark.queries import ORACLES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_stream_check_rejects_a_changed_row(tmp_path):
    oracle = ORACLES["ref_topology_large_transactions"]
    src = tmp_path / "in"
    src.mkdir()
    table = gen.events(gen.file_rng(0, 1, 0), 2_000, 0, gen.source("events"))
    pq.write_table(table, src / "part-0.parquet")
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')")
    good = con.sql(oracle).arrow()
    sink = tmp_path / "sink"
    sink.mkdir()
    pq.write_table(good, sink / "part-0.parquet")
    assert check_stream_sink(oracle, f"{src}/*.parquet", [f"{sink}/*.parquet"])[0]["ok"]

    amounts = good.column("amount").to_numpy().copy()
    amounts[0] += 1
    bad = good.set_column(good.schema.get_field_index("amount"), "amount", [amounts])
    pq.write_table(bad, sink / "part-0.parquet")
    assert not check_stream_sink(oracle, f"{src}/*.parquet", [f"{sink}/*.parquet"])[0]["ok"]

    # a duplicated batch (at-least-once replay) is a wrong output too
    pq.write_table(good, sink / "part-0.parquet")
    pq.write_table(good, sink / "part-1.parquet")
    assert not check_stream_sink(oracle, f"{src}/*.parquet", [f"{sink}/*.parquet"])[0]["ok"]


def test_query_check_rejects_a_changed_row(tmp_path):
    q = "dedup_exact_documents"
    docs = tmp_path / "documents.parquet"
    pq.write_table(gen.source("documents"), docs)
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    rel = con.sql(ORACLES[q])
    rows = rel.fetchall()
    tables = {"documents": str(docs)}
    ok = {"rows": len(rows), "digest": digest(rel.columns, rows), "oracle": ORACLES[q]}
    assert check_queries({q: ok}, tables) == {q: True}

    # same row count, one row replaced by a copy of another
    bad = dict(ok, digest=digest(rel.columns, [rows[1]] + rows[1:]))
    assert check_queries({q: bad}, tables) == {q: False}
    assert check_queries({q: dict(ok, rows=len(rows) - 1)}, tables) == {q: False}


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    proc = run_bench(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_measures_every_per_layer_metric(workload):
    proc = run_bench(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    # every time was taken: a probe that did not run would leave no value
    # (the run fails) and a time of exactly 0 means it timed nothing
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    assert [k for k, v in out["metrics"].items() if v["unit"] == "s" and v["value"] <= 0] == []


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = run_bench(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
