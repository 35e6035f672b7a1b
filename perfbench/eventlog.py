"""Attribute a Spark event log to the worker's spans.

Every job runs in the job group ``span-<id>`` of the innermost span that
was open when it started; its stages carry the same group.  Task metrics
and the SQL metrics of the Python plan nodes (read through the plan
trees of the SQL execution events) are summed per span.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs", "stages", "tasks", "task_wait_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_sent_bytes", "python_returned_bytes", "python_rows_out",
    "python_run_s", "python_start_s",
)
# Python plan-node SQL metric name -> (field, scale to seconds or 1)
_PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "number of output rows": "python_rows_out",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _is_python_node(name: str) -> bool:
    return any(k in name for k in ("Python", "Pandas", "Arrow"))


def _walk(plan: dict, accums: dict) -> None:
    if _is_python_node(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            field = _PYTHON_METRICS.get(m["name"])
            if field:
                accums[m["accumulatorId"]] = (field, _TIME_SCALE.get(m["metricType"], 1.0))
    for child in plan.get("children", []):
        _walk(child, accums)


def per_group(path: str) -> dict[str, dict]:
    """{job group: {field: total}} over one event log file."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    accums: dict[int, tuple[str, float]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk(ev["sparkPlanInfo"], accums)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g["tasks"] += 1
                busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0))
                g["task_wait_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    hit = accums.get(acc.get("ID"))
                    if hit and "Update" in acc:
                        g[hit[0]] += float(acc["Update"]) * hit[1]
    return dict(out)


def per_span(path: str, spans: list[dict]) -> dict[int, dict]:
    """Each span's totals including its descendants' jobs."""
    groups = per_group(path)
    own = {s["id"]: groups.get(f"span-{s['id']}", dict.fromkeys(FIELDS, 0.0)) for s in spans}
    total = {sid: dict(v) for sid, v in own.items()}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children have larger ids
        if s["parent"] is not None:
            for k in FIELDS:
                total[s["parent"]][k] += total[s["id"]][k]
    return total
