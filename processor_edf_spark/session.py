"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configuration below is
written for the real target — a multi-executor cluster reading ~100 TB —
so everything that matters at scale (AQE, skew-join handling, Arrow
batching, partition sizing) is on by default and nothing assumes
driver-local state.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "processor_edf_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` controls local-mode parallelism only; on a real cluster the
    master/executor topology comes from spark-submit and these .master /
    memory settings are ignored.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = max(32, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalesce + skew-join splitting — essential at 100 TB
        # where key skew (hot channels / hot users) is the norm.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Deterministic time semantics: the engine's canonical timestamp is
        # int64 µs-since-epoch; session TZ pinned to UTC so TimestampType
        # round-trips are stable across drivers/executors.
        .config("spark.sql.session.timeZone", "UTC")
        # Some sources write INT64 TIMESTAMP(NANOS) parquet (e.g. pandas
        # datetime64[ns]); Spark has no nanos timestamp — read as long ns
        # and convert explicitly (`div 1000` ≡ DuckDB's µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MiB scan splits — the parquet-side default that keeps a 100 TB
        # scan at ~800k tasks rather than millions of tiny ones.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Compile each generated class once per session.  The engine runs
        # the same plans pass after pass, and one pass's working set of
        # distinct whole-stage and projection classes is ~95-104 for an
        # EDF append pass (decode, status, channel metadata, sinks), ~88
        # for corpus_job_report and ~140 for a dedup query pass.  At the
        # default of 100 entries the LRU cache evicts classes before the
        # next pass asks for them again, so every warm pass re-ran Janino
        # (29 classes per EDF pass, ~127 per dedup pass, at local[2]) and
        # then class loading and JIT for code it already had.  1000 holds
        # several workloads' sets; the cache maps generated source to its
        # compiled class, so no output can change.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Fork Python workers from the engine's daemon (_daemon.py).
        # PySpark runs importlib.invalidate_caches() before every task,
        # and on CPython 3.11 each of a worker's 16 zip importers
        # (pyspark.zip, py4j, the spark-core jar) then re-reads its whole
        # archive: 0.12-0.25 CPU-s per task in a local[2] worker on a
        # 4-vCPU VM, more than decoding a small EDF slice.  The daemon
        # re-reads an archive only when its stat key changes (~0.0002
        # CPU-s per task) and imports the package once before forking.
        # Executors must be able to import processor_edf_spark when the
        # daemon starts.
        .config("spark.python.daemon.module", "processor_edf_spark._daemon")
        # One BLAS thread per python worker (r15): every executor runs
        # one worker per task slot, so letting OpenBLAS/MKL spawn a
        # thread pool per worker oversubscribes cores cores×threads —
        # measured 16× slower on the small GEMV/GEMM kernels the codec
        # and similarity rows run (172 µs vs 10.7 µs for a 256×128
        # matvec under contention).  This is the standard one-thread-
        # per-task discipline for ANY cluster size, not a local tune;
        # parallelism comes from Spark's task fan-out.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
