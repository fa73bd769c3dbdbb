"""Seeded load generator for the benchmark: pyarrow and numpy only, no Spark.

It runs as its own process, outside the system under test, and makes
every input a workload reads from ``--seed`` and the read-only tables
under ``data/`` (copies of the engine's sf0.01 ``documents``,
``embeddings`` and ``events`` test tables, and its sf0.001 ``lineitem``).

Subcommands:

``tables DIR --seed N [--lineitem N]``
    Write ``documents`` and ``embeddings`` into DIR (the sf-directory
    layout ``load_table`` reads) with their rows in a seeded order and
    their content unchanged, and ``lineitem`` with N rows drawn from the
    copy (the host canary's input).
``backlog DIR --seed N --files N --rows N``
    Write N events files at once (a drained backlog).
``stream DIR --seed N --first I --files N --rows N --rate F --start T --log LOG``
    Open loop: file I + i is due at ``T + i / F`` (wall clock). Each file is
    written under a temporary name beside DIR and renamed into DIR at its
    due time, whatever the consumer is doing. LOG gets one JSON line per
    file with its due and actual times.

An events file holds rows drawn with replacement from the ``events`` copy
and re-keyed: ``event_id`` is unique across all files; every other column
keeps the drawn row's value.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: ids of streamed files start here, so no two files share an event id
FILE_ID_STRIDE = 10_000_000


def source(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SOURCE, f"{name}.parquet")).replace_schema_metadata()


def events(rng: np.random.Generator, n: int, first_id: int, pool: pa.Table) -> pa.Table:
    """``n`` rows drawn from ``pool`` (the events copy), re-keyed from
    ``first_id``. The naive source timestamps are written as UTC instants,
    the reading the engine's ``load_table`` gives them."""
    t = pool.take(rng.integers(0, pool.num_rows, n))
    t = t.set_column(0, "event_id", pa.array(np.arange(first_id, first_id + n, dtype=np.int64)))
    ts = t.schema.get_field_index("ts")
    return t.set_column(ts, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))


def file_rng(seed: int, stream: int, i: int) -> np.random.Generator:
    """One generator per (seed, stream, file): a file's rows do not depend
    on how many files were written before it."""
    return np.random.default_rng([seed, stream, i])


def cmd_tables(a: argparse.Namespace) -> None:
    os.makedirs(a.dir, exist_ok=True)
    rng = np.random.default_rng([a.seed, 0])
    for name in ("documents", "embeddings"):
        table = source(name)
        # the seed permutes row order, which no query may depend on
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(a.dir, f"{name}.parquet"))
    lineitem = source("lineitem")
    pq.write_table(
        lineitem.take(rng.integers(0, lineitem.num_rows, a.lineitem)),
        os.path.join(a.dir, "lineitem.parquet"),
    )


def cmd_backlog(a: argparse.Namespace) -> None:
    os.makedirs(a.dir, exist_ok=True)
    pool = source("events")
    for i in range(a.files):
        table = events(file_rng(a.seed, 2, i), a.rows, (i + 1) * FILE_ID_STRIDE, pool)
        pq.write_table(table, os.path.join(a.dir, f"part-{i:05d}.parquet"))


def cmd_stream(a: argparse.Namespace) -> None:
    os.makedirs(a.dir, exist_ok=True)
    staging = a.dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    pool = source("events")
    with open(a.log, "w") as log:
        for i in range(a.first, a.first + a.files):
            name = f"part-{i:05d}.parquet"
            tmp = os.path.join(staging, name)
            table = events(file_rng(a.seed, 1, i), a.rows, (i + 1) * FILE_ID_STRIDE, pool)
            pq.write_table(table, tmp)
            due = a.start + (i - a.first) / a.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(tmp, os.path.join(a.dir, name))
            actual = time.time()
            log.write(json.dumps({"file": name, "due": due, "actual": actual}) + "\n")
    os.rmdir(staging)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tables")
    t.add_argument("dir")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--lineitem", type=int, default=200_000)
    for name in ("backlog", "stream"):
        s = sub.add_parser(name)
        s.add_argument("dir")
        s.add_argument("--seed", type=int, required=True)
        s.add_argument("--files", type=int, required=True)
        s.add_argument("--rows", type=int, required=True)
        if name == "stream":
            s.add_argument("--first", type=int, default=0)
            s.add_argument("--rate", type=float, required=True)
            s.add_argument("--start", type=float, required=True)
            s.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    {"tables": cmd_tables, "backlog": cmd_backlog, "stream": cmd_stream}[a.cmd](a)


if __name__ == "__main__":
    main()
