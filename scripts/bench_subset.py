"""Bench-methodology subset runner for A/B work (round 11).

Replicates bench.py's timing discipline exactly — alphabetical order,
two full passes, min-of-2, clearCache at FAMILY boundaries only, noop
sink, construction inside the timer — but over a subset of queries, so
a per-query optimization can be judged under the same cache-sharing
rules the driver's bench applies.

Usage:
  python scripts/bench_subset.py query [query ...]
  python scripts/bench_subset.py --family fam [fam ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    args = sys.argv[1:]
    if args and args[0] == "--family":
        fams = set(args[1:])
        names = sorted(n for n in QUERIES if n.split("_", 1)[0] in fams)
    else:
        names = sorted(args)
    for n in names:
        if n not in QUERIES:
            raise SystemExit(f"unknown query {n}")

    spark = get_spark("kstcw-bench-subset")
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    force(QUERIES["agg_pricing_summary"](spark, sf_dir))

    def canary_time() -> float:
        t0 = time.time()
        force(QUERIES["agg_pricing_summary"](spark, sf_dir))
        return time.time() - t0

    best: dict[str, float] = {}
    canary = float("inf")
    for _pass in range(2):
        canary = min(canary, canary_time())
        for i, name in enumerate(names):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            force(QUERIES[name](spark, sf_dir))
            dt = time.time() - t0
            best[name] = min(best.get(name, float("inf")), dt)
            spark.sparkContext.setJobDescription(None)
            fam = name.split("_", 1)[0]
            nxt = names[i + 1].split("_", 1)[0] if i + 1 < len(names) else None
            if fam != nxt:
                spark.catalog.clearCache()
        canary = min(canary, canary_time())
    total = round(sum(best.values()), 3)
    for name in names:
        print(f"{best[name]:8.3f}  {name}", flush=True)
    print(
        json.dumps(
            {
                "total": total,
                "canary_sec": round(canary, 3),
                "total_canary_norm": round(total / canary, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
