"""Per-job-group totals from an uncompressed Spark JSON event log.

The benchmark gives every timed call its own job group
(``<workload>:<call>:<pass>``); this module folds the log's job, stage
and task events into one counter dict per group.  The log must be
written with ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metric names PySpark's Python plan nodes (MapInPandas,
# ArrowEvalPython, ...) register; a node carrying the first is a Python
# node, and its "number of output rows" counts rows through the UDF.
PY_SENT = "data sent to Python workers"
OUT_ROWS = "number of output rows"

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "udf_rows", "udf_mb_sent",
)


def _python_row_accumulators(plan: dict, out: set) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics and OUT_ROWS in metrics:
        out.add(metrics[OUT_ROWS])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def _num(v) -> float:
    return float(v) if v is not None else 0.0


def parse(lines) -> dict[str, dict[str, float]]:
    """Fold event-log lines into ``{job_group: {counter: value}}``.

    Jobs outside any group are kept under the empty string."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    py_row_accs: set = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_row_accumulators(ev["sparkPlanInfo"], py_row_accs)
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"], "")]
            c["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["task_s"] += _num(m.get("Executor Run Time")) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_mb"] += (
                _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
            ) / 2**20
            wr = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mb"] += _num(wr.get("Shuffle Bytes Written")) / 2**20
            c["spill_mb"] += (
                _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
            ) / 2**20
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    c["udf_mb_sent"] += _num(acc.get("Update")) / 2**20
                elif acc.get("ID") in py_row_accs:
                    c["udf_rows"] += _num(acc.get("Update"))
    return dict(out)


def parse_files(paths: list[str]) -> dict[str, dict[str, float]]:
    """Parse the files of one (possibly rolled) log, in order."""

    def lines():
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return parse(lines())
