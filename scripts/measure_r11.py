"""Round-11 measurement harness (guide §1): time selected queries with
the noop sink and dump `.explain("formatted")` plans.

Usage:
  python scripts/measure_r11.py out_dir query [query ...]   # explain+time
  python scripts/measure_r11.py out_dir --all               # every query, 1 pass

Prints one line per query: name, min-of-2 noop seconds. Writes
<out_dir>/<query>.txt with the formatted plan. Label = query name via
setJobDescription so UI-less job logs still attribute work.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    out_dir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    spark = get_spark("kstcw-measure-r11")
    spark.sparkContext.setLogLevel("ERROR")

    if names == ["--all"]:
        names = sorted(QUERIES)
        passes = 1
    else:
        passes = 2

    # warmup
    QUERIES["agg_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    results = {}
    for name in names:
        best = float("inf")
        for p in range(passes):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(name)
            # bench.py methodology: construction INSIDE the timer —
            # several operators run eager driver rounds at construction
            # (pagerank, kcenter, index-probe routing collects), and
            # timing only the sink write under-reports them.
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            spark.sparkContext.setJobDescription(None)
            if p == 0:
                with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        results[name] = best
        print(f"{best:8.3f}  {name}", flush=True)
    import json

    with open(os.path.join(out_dir, "timings.json"), "w") as f:
        json.dump({k: round(v, 3) for k, v in results.items()}, f, indent=1)


if __name__ == "__main__":
    main()
