#!/usr/bin/env python
"""Targeted measurement: for each named query, noop-sink warm + re-warm
+ min-of-3 wall, the POST-EXECUTION final adaptive plan (the one
showing ReusedExchange / AQEShuffleRead / codegen spans), the Spark
jobs the query's build call launches on a warm invocation (eager driver
actions inside the query function: collects, checkpoints, cache builds),
and the Spark jobs of that warm invocation's execute call (the final
action on the returned DataFrame).

Usage:
    python tools/measure_queries.py out_prefix query [query ...]

Writes /tmp/<out_prefix>_timings.json, /tmp/<out_prefix>_build_jobs.json,
/tmp/<out_prefix>_exec_jobs.json and plans to
/tmp/<out_prefix>_<query>_final.txt.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (  # noqa: E402
    QUERIES,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    prefix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure")
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    exec_jobs: dict[str, int] = {}
    for name in names:
        fn = QUERIES[name].fn
        spark.sparkContext.setJobDescription(f"warm:{name}")
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        # warm build: jobs launched before the final action
        sc.setJobGroup(f"build:{name}", "warm build call")
        try:
            df2 = fn(spark, sf_dir)
            build_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
        finally:
            sc.setJobGroup("", "")
        # warm execute: the jobs of the final action; then the final
        # adaptive plan from the dataframe's own QueryExecution
        sc.setJobGroup(f"exec:{name}", "warm execute call")
        try:
            df2.collect()
            exec_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"exec:{name}"))
        finally:
            sc.setJobGroup("", "")
        final = df2._jdf.queryExecution().executedPlan().toString()
        with open(f"/tmp/{prefix}_{name}_final.txt", "w") as f:
            f.write(final)
        spark.sparkContext.setJobDescription(f"time:{name}")
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(name, timings[name], build_jobs[name], exec_jobs[name], flush=True)
    spark.stop()
    with open(f"/tmp/{prefix}_timings.json", "w") as f:
        json.dump(timings, f, indent=1)
    with open(f"/tmp/{prefix}_build_jobs.json", "w") as f:
        json.dump(build_jobs, f, indent=1)
    with open(f"/tmp/{prefix}_exec_jobs.json", "w") as f:
        json.dump(exec_jobs, f, indent=1)


if __name__ == "__main__":
    main()
