"""Per-query phase profiler.

For each named query, separates the cost of CONSTRUCTION (the
registry callable — includes every driver-side collect/first the
operator performs while building the result plan) from the cost of the
final noop-sink EXECUTION, and counts the Spark jobs each phase
launched (via a job group + statusTracker).  Construction-heavy
queries are action-bound (iterative collects / planning); execution-
heavy ones are compute/shuffle-bound.  ``compiles`` is the number of
Janino compilations over the three timed runs (``CodegenMetrics``, read
in the driver JVM, no Spark job): after the warm-up it should be 0, and
a query that keeps compiling is overflowing the codegen cache.

Usage: python tools/profile_query.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_optimized_data_pipelines_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    from cloud_optimized_data_pipelines_spark.queries import QUERIES, load_tables

    load_tables(spark, sf_dir)
    spark.sql("SELECT count(*) FROM lineitem").collect()
    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    print(f"{'query':42s} {'constr_s':>9s} {'jobs':>5s} {'write_s':>9s} "
          f"{'jobs':>5s} {'total_s':>9s} {'compiles':>8s}")
    for name in args:
        if name not in QUERIES:
            print(f"{name}: NOT REGISTERED")
            continue
        # warmup (codegen/JIT), untimed — same protocol as bench.py
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        best = None
        c0 = compiles()
        for rep in range(3):
            spark.sparkContext.setJobGroup(f"c-{name}-{rep}", name)
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            jc = len(tracker.getJobIdsForGroup(f"c-{name}-{rep}"))
            spark.sparkContext.setJobGroup(f"w-{name}-{rep}", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            jw = len(tracker.getJobIdsForGroup(f"w-{name}-{rep}"))
            row = (t1 - t0, jc, t2 - t1, jw, t2 - t0)
            if best is None or row[4] < best[4]:
                best = row
        print(f"{name:42s} {best[0]:9.3f} {best[1]:5d} {best[2]:9.3f} "
              f"{best[3]:5d} {best[4]:9.3f} {compiles() - c0:8d}")
    spark.sparkContext.setJobGroup(None, None)


if __name__ == "__main__":
    main()
