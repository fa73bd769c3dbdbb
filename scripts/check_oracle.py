"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB at the
given scale factor, then compares row count, column names, and an
order-insensitive value comparison (exact for ints/strings, near-exact for
doubles so we can see *how* far off a float column is before the driver's
hash check fails hard).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(rows, columns):
    """Sort columns by name and rows by string repr — order-insensitive."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(row[i] for i in idx))
    return sorted(columns), sorted(out, key=lambda r: tuple(str(v) for v in r))


def values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if fa == fb:
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def main() -> int:
    import json

    argv = sys.argv[1:]
    json_path = None
    for a in list(argv):
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
            argv.remove(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report: dict[str, dict] = {}

    import duckdb

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import ORACLES, QUERIES
    from kafka_streams_the_clojure_way_spark.sources.files import TABLES

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"status": "spark_error", "err": str(exc)[:500]}
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        spark_sec = time.time() - t0

        if name not in ORACLES:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{spark_sec:.1f}s]")
            report[name] = {
                "status": "rows_only" if srows else "rows_only_empty",
                "rows": len(srows), "sec": round(spark_sec, 3),
            }
            if not srows:
                failures.append(name)
            continue

        try:
            rel = con.sql(ORACLES[name])
            ocols = rel.columns
            orows = [tuple(r) for r in rel.fetchall()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"status": "oracle_error", "err": str(exc)[:500]}
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue

        sc, sr = normalize(srows, scols)
        oc, orw = normalize(orows, ocols)
        if sc != oc:
            failures.append(name)
            report[name] = {"status": "schema_mismatch", "spark_cols": sc, "oracle_cols": oc}
            print(f"FAIL  {name}: columns differ spark={sc} duck={oc}")
            continue
        if len(sr) != len(orw):
            failures.append(name)
            report[name] = {"status": "rowcount_mismatch", "spark_rows": len(sr), "oracle_rows": len(orw)}
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(orw)}")
            continue
        bad = None
        exact = True
        for rs, ro in zip(sr, orw):
            for vs, vo in zip(rs, ro):
                if vs != vo:
                    exact = False
                if not values_equal(vs, vo):
                    bad = (rs, ro)
                    break
            if bad:
                break
        if bad:
            failures.append(name)
            report[name] = {"status": "value_mismatch", "rows": len(sr),
                            "example": [repr(bad[0])[:300], repr(bad[1])[:300]]}
            print(f"FAIL  {name}: value mismatch\n  spark={bad[0]}\n  duck ={bad[1]}")
        else:
            report[name] = {
                "status": "exact" if exact else "within_1e-9",
                "rows": len(sr), "bit_exact": exact, "sec": round(spark_sec, 3),
            }
            if not exact:
                print(f"WARN~ {name}: {len(sr)} rows, equal within 1e-9 but NOT bit-exact [{spark_sec:.1f}s]")
            else:
                print(f"OK    {name}: {len(sr)} rows, bit-exact [{spark_sec:.1f}s]")
        if not sr:
            print(f"WARN  {name}: empty result set — weak test")

    if json_path:
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(report),
            "n_exact": sum(1 for r in report.values() if r["status"] == "exact"),
            "n_rows_only": sum(1 for r in report.values() if r["status"].startswith("rows_only")),
            "n_failures": len(failures),
            "failures": failures,
            "queries": report,
        }
        with open(json_path, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
