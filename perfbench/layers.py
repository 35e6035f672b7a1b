"""Per-layer metrics of a traced run.

Span times are means over the timed passes (``iso.*`` spans are the
layer calls made once on their own after the passes); Spark totals come
from the event log, summed over each span and its descendants.  A layer
the workload does not call reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import eventlog
from oracle_hashes import QUERY_NAMES

SPARK_TOTALS = (
    "jobs", "stages", "tasks", "task_wait_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "python_sent_bytes", "python_returned_bytes",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("coverage"):
        return "ratio"
    return "count"


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    per_query = [f"plans.{q}.{m}" for q in QUERY_NAMES for m in ("build_s", "build_jobs", "exec_s")]
    return [
        "session.get_spark_s",
        "pipeline.build_s", "pipeline.build_jobs", "pipeline.metadata_s",
        "pipeline.metadata_jobs", "pipeline.channel_dicts_s",
        "sources.edf.decode_s", "sources.edf.python_rows_out", "sources.edf.python_bytes_out",
        "sources.edf.python_run_s", "sources.edf.python_start_s", "sources.edf.status_s",
        "sources.edf.quarantined_files", "sources.edf.chunk_runs_s", "sources.edf.chunk_run_rows",
        "operators.sessionize.merge_s", "operators.sessionize.chunks_out",
        "operators.channels.registry_s", "operators.channels.matched", "operators.channels.created",
        "sinks.writers.samples_parquet_s", "sinks.writers.shuffle_write_bytes",
        "sinks.writers.spill_bytes", "sinks.writers.out_bytes", "sinks.writers.reference_s",
        "sinks.writers.reference_rows", "sinks.writers.channels_json_s",
        "sinks.writers.annotations_json_s",
        "plans.build_s", "plans.build_jobs", "plans.plan_s", "plans.exec_s", "plans.exec_jobs",
        *per_query,
        *(f"spark.{k}" for k in SPARK_TOTALS),
        "trace.job_s", "trace.job_cpu_s", "trace.span_coverage",
    ]


def per_layer(workload: str, tres: dict) -> dict:
    spans = tres["spans"]
    totals = eventlog.per_span(tres["event_log"], spans)
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["spark"] = totals[s["id"]]
    first = tres["first_timed"]
    timed = sorted({s["pass"] for s in spans if s["pass"] is not None and s["pass"] >= first})
    m = dict.fromkeys(names(), 0.0)

    def mean(name: str, field: str = "dur") -> float:
        per_pass = [sum(s["dur"] if field == "dur" else s["spark"][field]
                        for s in spans if s["pass"] == p and s["name"] == name) for p in timed]
        return statistics.fmean(per_pass) if per_pass else 0.0

    def iso(name: str, field: str = "dur") -> float:
        hits = [s for s in spans if s["name"] == f"iso.{name}"]
        return sum(s["dur"] if field == "dur" else s["spark"][field] for s in hits)

    m["session.get_spark_s"] = tres["get_spark_s"]
    if workload == "edf_append":
        m["pipeline.build_s"] = mean("pipeline.process_edf_directory")
        m["pipeline.build_jobs"] = mean("pipeline.process_edf_directory", "jobs")
        m["pipeline.metadata_s"] = iso("pipeline.metadata")
        m["pipeline.metadata_jobs"] = iso("pipeline.metadata", "jobs")
        m["pipeline.channel_dicts_s"] = mean("pipeline.channel_dicts")
        m["sources.edf.decode_s"] = iso("sources.edf.decode_samples")
        m["sources.edf.python_rows_out"] = iso("sources.edf.decode_samples", "python_rows_out")
        m["sources.edf.python_bytes_out"] = iso("sources.edf.decode_samples", "python_returned_bytes")
        m["sources.edf.python_run_s"] = iso("sources.edf.decode_samples", "python_run_s")
        cold = [s for s in spans if s["pass"] == 0 and s["name"] == "pass"]
        m["sources.edf.python_start_s"] = cold[0]["spark"]["python_start_s"] if cold else 0.0
        m["sources.edf.status_s"] = iso("sources.edf.file_status")
        m["sources.edf.chunk_runs_s"] = iso("sources.edf.decode_chunk_runs")
        m["operators.sessionize.merge_s"] = iso("operators.sessionize.merge_chunk_runs")
        m["operators.channels.registry_s"] = iso("operators.channels.get_or_create_channels")
        m["sinks.writers.samples_parquet_s"] = iso("sinks.writers.write_samples_parquet")
        m["sinks.writers.shuffle_write_bytes"] = iso("sinks.writers.write_samples_parquet",
                                                     "shuffle_write_bytes")
        m["sinks.writers.spill_bytes"] = iso("sinks.writers.write_samples_parquet", "spill_bytes")
        m["sinks.writers.reference_s"] = mean("sinks.writers.write_reference_compatible")
        m["sinks.writers.reference_rows"] = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(tres["out"], "reference", "*.ts.bin"))
        ) / 8
        m["sinks.writers.channels_json_s"] = iso("sinks.writers.write_channels_json")
        m["sinks.writers.annotations_json_s"] = mean("sinks.writers.write_annotations_json")
        for k, v in tres["counts"].items():
            m[k] = v
    else:
        for q in QUERY_NAMES:
            m[f"plans.{q}.build_s"] = mean(f"plans.{q}.build")
            m[f"plans.{q}.build_jobs"] = mean(f"plans.{q}.build", "jobs")
            m[f"plans.{q}.exec_s"] = mean(f"plans.{q}.exec")
            m["plans.build_s"] += m[f"plans.{q}.build_s"]
            m["plans.build_jobs"] += m[f"plans.{q}.build_jobs"]
            m["plans.plan_s"] += mean(f"plans.{q}.plan")
            m["plans.exec_s"] += m[f"plans.{q}.exec_s"]
            m["plans.exec_jobs"] += mean(f"plans.{q}.exec", "jobs")
    m["sinks.writers.out_bytes"] = statistics.median(p["out_bytes"] for p in tres["passes"][first:])
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = mean("pass", k)

    m["trace.job_s"] = statistics.median(p["wall_s"] for p in tres["passes"][first:])
    m["trace.job_cpu_s"] = statistics.median(p["cpu_s"] for p in tres["passes"][first:])
    cover = []
    for p in timed:
        top = [s for s in spans if s["pass"] == p and s["name"] == "pass"][0]
        kids = [s for s in spans if s["parent"] == top["id"]]
        cover.append(sum(s["dur"] for s in kids) / top["dur"])
    m["trace.span_coverage"] = statistics.median(cover) if cover else 0.0
    return {k: (float(v), _unit(k)) for k, v in m.items()}


def write_artifact(path: str, args, metrics: dict, tres: dict) -> None:
    """The per-layer JSON artifact: every metric and every span with its
    Spark totals."""
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "spans": [{k: s[k] for k in ("id", "name", "parent", "pass", "start", "end", "spark")}
                      for s in tres["spans"]],
        }, fh, indent=1)
