"""The program side of one benchmark run, in a fresh process.

Started by ``run.py`` with the inputs already generated: builds the
session with ``get_spark``, runs one cold pass, the warm-up passes and
the timed passes of a workload through the program's public entry
points, and writes what it measured to a JSON file.  With ``--trace 1``
every public call also runs inside a span (and a Spark job group named
after it), and after the passes each layer that runs fused inside a
bigger job is called once more on its own.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from oracle_hashes import QUERY_NAMES  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Tracer:
    """Spans (name, start, end, parent) kept in memory; each span's Spark
    jobs run in a job group named after the span id, so every job in the
    event log belongs to exactly one span.  Disabled, it records nothing
    and touches no Spark state."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.pass_no: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_no, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# Workloads: one pass = the calls a user makes for one batch of inputs.
# ---------------------------------------------------------------------------


class EdfAppend:
    def __init__(self, spark, inputs, out, tr):
        self.spark, self.out, self.tr = spark, out, tr
        self.edf = os.path.join(inputs, "edf")
        self.registry = os.path.join(inputs, "registry.parquet")
        self.fault_dir = os.path.join(inputs, "fault")
        self.quarantined: list = []

    def run_pass(self):
        from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
        from processor_edf_spark.sinks.writers import (
            write_annotations_json,
            write_reference_compatible,
        )
        from processor_edf_spark.sources.edf import file_status, scan_edf_files

        ref = os.path.join(self.out, "reference")
        shutil.rmtree(ref, ignore_errors=True)
        with self.tr.span("read_registry"):
            registry = self.spark.read.parquet(self.registry)
        with self.tr.span("pipeline.process_edf_directory"):
            samples, channels, annotations = process_edf_directory(
                self.spark, self.edf, existing_channels=registry, quarantine=True
            )
        with self.tr.span("sources.edf.file_status"):
            self.quarantined = [
                (r["file"], r["error"])
                for r in file_status(scan_edf_files(self.spark, self.edf))
                .filter("NOT ok").select("file", "error").collect()
            ]
        with self.tr.span("pipeline.channel_dicts"):
            dicts = channel_dicts(channels)
        with self.tr.span("sinks.writers.write_reference_compatible"):
            write_reference_compatible(samples, dicts, ref)
        with self.tr.span("sinks.writers.write_annotations_json"):
            write_annotations_json(annotations, os.path.join(self.out, "annotations"))

    def isolated(self):
        """Layers that run fused inside a bigger job, each called on its own
        over materialized inputs, for their self times."""
        from pyspark.sql import functions as F

        from processor_edf_spark.operators.channels import get_or_create_channels
        from processor_edf_spark.operators.sessionize import merge_chunk_runs
        from processor_edf_spark.pipeline import process_edf_directory
        from processor_edf_spark.sinks.writers import write_channels_json, write_samples_parquet
        from processor_edf_spark.sources.edf import (
            decode_chunk_runs,
            decode_samples,
            file_status,
            parse_signal_headers,
            scan_edf_files,
        )

        spark, edf_dir, out, tr = self.spark, self.edf, self.out, self.tr
        registry = spark.read.parquet(self.registry)
        with tr.span("iso.sources.edf.file_status"):
            status = file_status(scan_edf_files(spark, edf_dir)).select("path", "ok").collect()
        tr.counts["sources.edf.quarantined_files"] = sum(1 for r in status if not r["ok"])
        good = [r["path"] for r in status if r["ok"]]
        binary = scan_edf_files(spark, edf_dir).filter(F.col("path").isin(good))

        with tr.span("iso.sources.edf.decode_samples"):
            decode_samples(binary).write.format("noop").mode("overwrite").save()
        with tr.span("iso.sources.edf.decode_chunk_runs"):
            tr.counts["sources.edf.chunk_run_rows"] = len(decode_chunk_runs(binary).collect())

        runs = decode_chunk_runs(binary).localCheckpoint()
        with tr.span("iso.operators.sessionize.merge_chunk_runs"):
            tr.counts["operators.sessionize.chunks_out"] = len(
                merge_chunk_runs(runs, id_col="channel", rate_col="rate").collect()
            )

        signal_dim = (
            parse_signal_headers(binary).filter(~F.col("is_annotation"))
            .select("file", "signal_idx", F.trim("label").alias("name"),
                    F.col("phy_dim").alias("unit"), "rate", F.lit("CONTINUOUS").alias("type"))
            .localCheckpoint()
        )
        with tr.span("iso.operators.channels.get_or_create_channels"):
            reg = get_or_create_channels(signal_dim, registry).select("is_new").collect()
        tr.counts["operators.channels.matched"] = sum(1 for r in reg if not r["is_new"])
        tr.counts["operators.channels.created"] = sum(1 for r in reg if r["is_new"])

        _, channels, _ = process_edf_directory(spark, edf_dir, existing_channels=registry,
                                               quarantine=True)
        with tr.span("iso.pipeline.metadata"):
            channels.write.format("noop").mode("overwrite").save()
        channels = channels.localCheckpoint()
        with tr.span("iso.sinks.writers.write_channels_json"):
            write_channels_json(channels, os.path.join(out, "iso_channels"))

        samples = decode_samples(binary).localCheckpoint()
        with tr.span("iso.sinks.writers.write_samples_parquet"):
            write_samples_parquet(samples, os.path.join(out, "iso_samples"))
        for d in ("iso_channels", "iso_samples"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    def fault(self):
        """One file with a zero calibration gain, with quarantine on.
        Returns (attempted, failed, error)."""
        from processor_edf_spark.pipeline import process_edf_directory
        from processor_edf_spark.sinks.writers import write_samples_parquet

        try:
            samples, _, _ = process_edf_directory(self.spark, self.fault_dir, quarantine=True)
            write_samples_parquet(samples, os.path.join(self.out, "fault_samples"))
        except Exception as e:  # noqa: BLE001 — the failure is what is counted
            lines = [ln for ln in str(e).splitlines() if "Error" in ln] or [type(e).__name__]
            return 1, 1, lines[-1].strip()[:200]
        return 1, 0, None


class QueriesDedup:
    def __init__(self, spark, inputs, out, tr):
        self.spark, self.data, self.out, self.tr = spark, inputs, out, tr

    def run_pass(self):
        from processor_edf_spark.plans import QUERIES

        for q in QUERY_NAMES:
            with self.tr.span(f"plans.{q}.build"):
                df = QUERIES[q](self.spark, self.data)
            if self.tr.enabled:
                with self.tr.span(f"plans.{q}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.tr.span(f"plans.{q}.exec"):
                df.write.mode("overwrite").parquet(os.path.join(self.out, q))

    def isolated(self):
        pass

    def fault(self):
        return 0, 0, None


WORKLOADS = {"edf_append": EdfAppend, "queries_dedup": QueriesDedup}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--timed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from processor_edf_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=args.cpus)
    get_spark_s = time.perf_counter() - t0
    setup_done = time.time()

    tr = Tracer(spark.sparkContext, bool(args.trace))
    wl = WORKLOADS[args.workload](spark, args.inputs, args.out, tr)
    passes = []
    for i in range(1 + args.warmup + args.timed):
        tr.pass_no = i
        cpu, t = proctree.cpu_s(os.getpid()), time.perf_counter()
        with tr.span("pass"):
            wl.run_pass()
        passes.append({"start": t, "wall_s": time.perf_counter() - t,
                       "cpu_s": proctree.cpu_s(os.getpid()) - cpu,
                       "out_bytes": dir_bytes(args.out)})
    tr.pass_no = None
    passes_done = time.time()
    fault = wl.fault()
    if args.trace:
        wl.isolated()
    result = {
        "get_spark_s": get_spark_s,
        "setup_done": setup_done,
        "passes_done": passes_done,
        "passes": passes,
        "first_timed": 1 + args.warmup,
        "fault": fault,
        "quarantined": getattr(wl, "quarantined", []),
        "spans": tr.spans,
        "counts": tr.counts,
    }
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
