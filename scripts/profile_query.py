"""Per-query structure profile (round 11): construction wall vs
execution wall, number of Spark jobs, number of stages — the
stage-chain / driver-round diagnosis the optimization guide §1 asks
for before touching a plan.

Usage: python scripts/profile_query.py query [query ...]
Each query is run twice (pass 2 reported) so module-level model/index
caches behave as in the bench's min-of-2.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import QUERIES

    spark = get_spark("kstcw-profile-r11")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    st = sc.statusTracker()

    QUERIES["agg_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    print(f"{'query':42s} {'cons_s':>7s} {'exec_s':>7s} {'jobs':>5s} {'stages':>7s}")
    for name in sys.argv[1:]:
        for p in range(2):
            spark.catalog.clearCache()
            group = f"prof-{name}-{p}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            sc.setJobGroup(None, None)
            jids = st.getJobIdsForGroup(group)
            nstages = 0
            for j in jids:
                ji = st.getJobInfo(j)
                if ji:
                    nstages += len(ji.stageIds)
            if p == 1:
                print(
                    f"{name:42s} {t1-t0:7.2f} {t2-t1:7.2f} {len(jids):5d} {nstages:7d}",
                    flush=True,
                )


if __name__ == "__main__":
    main()
