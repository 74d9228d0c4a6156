"""Per-job-group totals from a Spark event log.

The traced run enables ``spark.eventLog.*`` and tags every call into the
engine with a job group (``sparkContext.setJobGroup``). Jobs carry the
group in their properties and SQL executions in ``jobGroupId``, so each
stage's task metrics and each SQL execution's start/end time can be
attributed to the query and phase that caused it.
"""

from __future__ import annotations

import json
from collections import defaultdict

_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"',
)

# accumulable name -> (output field, scale to the output unit)
_ACCUMS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
}


def empty_totals() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "scan_rows": 0,
        "parquet_scan_rows": 0,
        "parquet_scan_s": 0.0,
        "sql_start": None,
        "sql_end": None,
    }


def _stage_metrics(info: dict) -> dict:
    out = defaultdict(float)
    for acc in info.get("Accumulables", ()):
        spec = _ACCUMS.get(acc.get("Name"))
        if spec and isinstance(acc.get("Value"), (int, float)):
            out[spec[0]] += acc["Value"] * spec[1]
    # Input records also count cached (in-memory) reads; keep only
    # stages that scan files, by the operator scopes of their RDDs.
    rows = out.pop("input_rows", 0)
    scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", ()))
    csv, parquet = "Scan csv" in scopes, "Scan parquet" in scopes
    out["scan_rows"] = rows if csv or parquet else 0
    if parquet and not csv:
        out["parquet_scan_rows"] = rows
        out["parquet_scan_s"] = (
            info.get("Completion Time", 0) - info.get("Submission Time", 0)
        ) / 1000.0
    out["tasks"] = info.get("Number of Tasks", 0)
    return out


def group_totals(path: str) -> dict[str, dict]:
    """{job group: totals} for every job group seen in the log. SQL
    start/end times are epoch seconds (first start, last end)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(empty_totals)
    sql_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                totals[group]["jobs"] += 1
                for sid in e.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                t = totals[group]
                t["stages"] += 1
                for k, v in _stage_metrics(info).items():
                    t[k] += v
            elif kind.endswith("SQLExecutionStart"):
                group = e.get("jobGroupId")
                if group is None:
                    continue
                sql_group[e["executionId"]] = group
                t = totals[group]
                start = e["time"] / 1000.0
                t["sql_start"] = start if t["sql_start"] is None else min(t["sql_start"], start)
            else:
                group = sql_group.get(e["executionId"])
                if group is None:
                    continue
                t = totals[group]
                end = e["time"] / 1000.0
                t["sql_end"] = end if t["sql_end"] is None else max(t["sql_end"], end)
    return dict(totals)
