"""Dump `.explain("formatted")` for registered queries WITHOUT timing them
(guide §1/§7.2: plan-shape evidence for the optimization round).

Usage:
  python scripts/dump_plans.py out_dir [suffix] [query ...]   # default: all

Writes <out_dir>/<query>_<suffix>.txt. Queries whose construction runs
eager driver rounds (pagerank, kcenter, ...) still execute those; the
final plan is what is dumped.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    spark = get_spark("kstcw-plans-r11")
    spark.sparkContext.setLogLevel("ERROR")

    if not names:
        names = sorted(QUERIES)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"PLAN CAPTURE FAILED: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(name, flush=True)


if __name__ == "__main__":
    main()
