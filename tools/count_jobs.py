"""Count Spark jobs and plan-build py4j round trips per registered query.

Usage: python tools/count_jobs.py [--sf DIR] query1 query2 ...

Drains each query once to warm (codegen/caches), then drains again and
reports the number of Spark jobs the second drain submitted: the job
ids the status tracker lists after the drain that it did not list
before. Diffing id sets (not list lengths) stays exact once
``spark.ui.retainedJobs`` starts evicting old jobs. Job count is the
durable signal for per-round fixed cost in iterative operators: at
100 TB every job is a full scheduling barrier.

It also reports the py4j round trips of building the second drain's
plan (the call that returns the query's DataFrame, jobs it runs eagerly
included), counted by ``session.py4j_round_trips``: a driver-side cost
that no job metric shows.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES
from kingsfoil_seed_data_ingestor_spark.session import (
    get_spark,
    pin_comparable_conf,
    py4j_round_trips,
)


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or list(QUERIES)

    spark = get_spark(app_name="kingsfoil-count-jobs")
    pin_comparable_conf(spark)
    tracker = spark.sparkContext.statusTracker()

    for n in names:
        drain(QUERIES[n].spark(spark, args.sf))  # warm pass
        spark.catalog.clearCache()
        before = set(tracker.getJobIdsForGroup())
        t0 = time.perf_counter()
        with py4j_round_trips(spark) as calls:
            df = QUERIES[n].spark(spark, args.sf)
        drain(df)
        dt = time.perf_counter() - t0
        new_jobs = set(tracker.getJobIdsForGroup()) - before
        spark.catalog.clearCache()
        print(f"{n:36s} jobs={len(new_jobs):4d}  build_rt={calls():6d}  {dt:7.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
