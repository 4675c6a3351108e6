"""Per-layer accounting for traced runs.

Three sources, all read outside the timed calls:

- Spark's own event log (``spark.eventLog.enabled``, uncompressed,
  rolling ``eventlog_v2_*/events_*`` files): executor run/CPU time, JVM
  GC time, shuffle/spill/input/output bytes and the Python-worker
  accumulables, attributed to the job group (``<workload>:<layer>``) and
  job description (``<call>#<pass>``) that submitted each stage;
- ``SparkContext.statusTracker()``: job, stage and task counts per call;
- the final physical plan of each SQL execution (the last adaptive
  update in the event log): Exchange and Python node counts.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

#: task-level accumulables the Python runners report (Spark 4.1 names)
PY_ACCUMULABLES = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}

TASK_FIELDS = (
    "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", *PY_ACCUMULABLES.values(),
    "exchange_nodes", "python_nodes",
)

_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_EXCHANGE = {"Exchange", "ShuffleExchange", "BroadcastExchange"}


def _plan_nodes(info: dict) -> tuple[int, int]:
    """(Exchange nodes, Python nodes) in one ``sparkPlanInfo`` tree."""
    exchanges = python = 0
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        exchanges += name in _EXCHANGE
        python += bool(_PY_NODE.search(name))
        stack.extend(node.get("children") or ())
    return exchanges, python


class JobCounter:
    """Jobs, stages and tasks each call submitted, from statusTracker."""

    def __init__(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self._seen: set[int] = set()

    def new_jobs(self, group: str) -> dict[str, int]:
        ids = [j for j in self._tracker.getJobIdsForGroup(group)
               if j not in self._seen]
        self._seen.update(ids)
        stages = tasks = 0
        for j in ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = self._tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}


def _task_row(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    row = {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes":
            (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes":
            (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        key = PY_ACCUMULABLES.get(acc.get("Name"))
        if key is not None:
            try:
                row[key] = row.get(key, 0) + float(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return row


def event_log_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def parse_event_log(log_dir: str) -> dict[tuple[str, str], dict[str, float]]:
    """Task metrics and plan node counts summed per (job group, job
    description)."""
    stage_key: dict[int, tuple[str, str]] = {}
    exec_key: dict[str, tuple[str, str]] = {}
    exec_plan: dict[str, tuple[int, int]] = {}
    totals: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    key = (props.get("spark.jobGroup.id", ""),
                           props.get("spark.job.description", ""))
                    stage_key.setdefault(ev["Stage Info"]["Stage ID"], key)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_key.setdefault(str(eid), key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev.get("Stage ID"), ("", ""))
                    acc = totals[key]
                    for k, v in _task_row(ev).items():
                        acc[k] += v
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    exec_plan[str(ev["executionId"])] = _plan_nodes(
                        ev.get("sparkPlanInfo") or {})
    for eid, (exchanges, python) in exec_plan.items():
        key = exec_key.get(eid)
        if key is not None:
            totals[key]["exchange_nodes"] += exchanges
            totals[key]["python_nodes"] += python
    return dict(totals)
