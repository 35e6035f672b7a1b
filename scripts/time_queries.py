#!/usr/bin/env python
"""Isolated per-query timing with the bench's exact methodology (one
warm-up run, one timed run, noop sink) for quick before/after checks.
Each timed run also prints how many generated classes it compiled.

Usage: python scripts/time_queries.py [--sf DIR] [--reps N] name [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from processor_edf_spark.plans import QUERIES  # noqa: E402
from processor_edf_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    # bench contract defaults (r15, per ADVICE): honor the same env vars
    # bench.py reads so isolated timings reproduce bench conditions on
    # any host; flags still override for ad-hoc comparisons.
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = 1
    names = []
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--reps":
            reps = int(args.pop(0))
        elif a == "--cpus":
            cpus = int(args.pop(0))
        else:
            names.append(a)
    spark = get_spark("time_queries", cpus=cpus)
    # Spark's count of generated classes compiled by Janino: a warm run
    # that compiles any has fallen out of the codegen cache.
    compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        for _ in range(reps):
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(
                f"{name}: {time.perf_counter() - t0:.3f}s"
                f" compiled {compiled.getCount() - c0} classes",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
