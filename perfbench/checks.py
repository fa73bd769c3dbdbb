"""Output checks: every workload's result is compared with DuckDB's
evaluation of the engine's own oracle SQL over the same generated inputs.

The digest is order-insensitive and exact: columns sorted by name, each
row rendered with ``repr`` and the rendered rows sorted, then hashed. It
is the comparison the repository's driver gate makes (see
``__spark_entry__.py``), so a difference in the last bit of a double
counts as a failure.
"""

from __future__ import annotations

import hashlib

import duckdb


def digest(columns: list[str], rows: list[tuple]) -> str:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(repr(row[i]) for i in idx) for row in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _digest_sql(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    rows = rel.fetchall()
    return len(rows), digest(rel.columns, rows)


def check_stream_sink(oracle_sql: str, input_glob: str, sink_globs: list[str]) -> list[dict]:
    """Each streamed sink must hold exactly the rows the oracle computes
    over every input file (a multiset: duplicated or missing rows fail)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{input_glob}')")
        want_rows, want = _digest_sql(con, oracle_sql)
        out = []
        for sink_glob in sink_globs:
            got_rows, got = _digest_sql(
                con, f"SELECT user_id, amount FROM read_parquet('{sink_glob}')"
            )
            out.append({"ok": want == got, "rows": got_rows, "oracle_rows": want_rows})
        return out
    finally:
        con.close()


def check_queries(results: dict[str, dict], tables: dict[str, str]) -> dict[str, bool]:
    """``results`` maps a query name to ``{"rows", "digest", "oracle"}``
    as the engine produced them; ``tables`` maps a view name to its
    parquet file. Returns ``{query: passed}``."""
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q, res in results.items():
            rows, dig = _digest_sql(con, res["oracle"])
            out[q] = rows == res["rows"] and dig == res["digest"]
        return out
    finally:
        con.close()
