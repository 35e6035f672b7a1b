#!/usr/bin/env python
"""Fixed CPU cost of one Python task.

Runs a one-task identity ``mapInPandas`` job and the same job without the
Python node in a ``get_spark`` session, and prints the median CPU seconds
(user + system) the whole process tree spends per job: this process, its
JVM and the JVM's Python daemon and workers.  The difference is what one
short Python task costs beyond the JVM side of the job.

Usage: python scripts/python_task_overhead.py [--jobs N] [--warmup N]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import proctree  # noqa: E402

from processor_edf_spark.session import get_spark  # noqa: E402


def _identity(batches):
    yield from batches


def _median_cpu(run, jobs: int, warmup: int) -> float:
    for _ in range(warmup):
        run()
    costs = []
    for _ in range(jobs):
        before = proctree.cpu_s(os.getpid())
        run()
        costs.append(proctree.cpu_s(os.getpid()) - before)
    return statistics.median(costs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=20, help="timed jobs per variant")
    ap.add_argument("--warmup", type=int, default=5, help="untimed jobs per variant")
    args = ap.parse_args()

    spark = get_spark("python_task_overhead", cpus=1)
    base = spark.range(0, 1000, numPartitions=1)
    python = base.mapInPandas(_identity, base.schema)
    without = _median_cpu(base.collect, args.jobs, args.warmup)
    with_python = _median_cpu(python.collect, args.jobs, args.warmup)
    print(f"one-task job without the Python node: {without:.3f} CPU-s")
    print(f"one-task identity mapInPandas job:    {with_python:.3f} CPU-s")
    print(f"Python node:                          {with_python - without:+.3f} CPU-s")
    spark.stop()


if __name__ == "__main__":
    main()
