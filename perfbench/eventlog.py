"""Parse a Spark event log (uncompressed JSON lines) into per-span totals.

The benchmark tags every Spark job it triggers with the local property
``perfbench.span`` (the id of the benchmark span that was open), so each
task, stage and SQL metric can be charged to the span that caused it:

    task -> stage -> job -> span        (TaskEnd / JobStart events)
    SQL metric accumulator -> plan node (SQLExecutionStart and AQE plan
                                         updates carry the node tree)

Only the event fields read here are relied on; everything else is ignored.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def log_files(path: str) -> list[str]:
    """The event-log file(s) under ``path``: a single file, or the
    ``events_N_*`` parts of a rolling log directory, in order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("events_") or f.startswith(("local-", "app-")):
                if not f.endswith((".inprogress.crc", ".crc")):
                    found.append(os.path.join(root, f))

    def part(p: str) -> tuple[int, str]:
        name = os.path.basename(p)
        bits = name.split("_")
        return (int(bits[1]) if name.startswith("events_") else 0, name)

    return sorted(found, key=part)


@dataclass
class TaskTotals:
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    job_span: dict[int, str | None] = field(default_factory=dict)
    job_exec: dict[int, int | None] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_times: dict[int, tuple[float, float]] = field(default_factory=dict)
    stage_tasks: dict[int, TaskTotals] = field(default_factory=dict)
    # accumulator id -> (plan node name, metric name)
    accum_node: dict[int, tuple[str, str]] = field(default_factory=dict)
    # (stage id, accumulator id) -> summed task updates
    stage_accum: dict[tuple[int, int], float] = field(default_factory=dict)
    # (execution id, accumulator id) -> driver-side value
    exec_accum: dict[tuple[int, int], float] = field(default_factory=dict)

    # -- queries -------------------------------------------------------
    def span_stages(self, spans: set[str]) -> list[int]:
        return [
            s for s, j in self.stage_job.items() if self.job_span.get(j) in spans
        ]

    def span_jobs(self, spans: set[str]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in spans]

    def tasks(self, spans: set[str]) -> TaskTotals:
        out = TaskTotals()
        for s in self.span_stages(spans):
            if s in self.stage_tasks:
                out.add(self.stage_tasks[s])
        return out

    def stage_intervals(self, spans: set[str]) -> list[tuple[float, float]]:
        return [
            self.stage_times[s]
            for s in self.span_stages(spans)
            if s in self.stage_times
        ]

    def sql_metric(self, spans: set[str], metric: str,
                   node_prefix: str | None = None) -> float:
        """Sum of a named SQL metric over the spans' tasks and driver
        updates, optionally only on plan nodes whose name starts with
        ``node_prefix``."""

        def wanted(acc: int) -> bool:
            node = self.accum_node.get(acc)
            return (
                node is not None
                and node[1] == metric
                and (node_prefix is None or node[0].startswith(node_prefix))
            )

        stages = set(self.span_stages(spans))
        total = sum(
            v for (st, acc), v in self.stage_accum.items()
            if st in stages and wanted(acc)
        )
        execs = {
            self.job_exec[j] for j in self.span_jobs(spans)
            if self.job_exec.get(j) is not None
        }
        total += sum(
            v for (ex, acc), v in self.exec_accum.items()
            if ex in execs and wanted(acc)
        )
        return total


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _task_totals(event: dict) -> TaskTotals:
    m = event.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return TaskTotals(
        tasks=1,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
    )


def parse(path: str) -> EventLog:
    log = EventLog()
    for fn in log_files(path):
        with open(fn) as f:
            for line in f:
                if line.strip():
                    _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, e: dict) -> None:
    kind = e.get("Event")
    if kind == "SparkListenerJobStart":
        job = e["Job ID"]
        props = e.get("Properties") or {}
        log.job_span[job] = props.get(SPAN_PROPERTY)
        ex = props.get("spark.sql.execution.id")
        log.job_exec[job] = int(ex) if ex is not None else None
        for s in e.get("Stage IDs", ()):
            log.stage_job.setdefault(s, job)
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        sid = info["Stage ID"]
        if "Submission Time" in info and "Completion Time" in info:
            log.stage_times[sid] = (
                info["Submission Time"] / 1e3,
                info["Completion Time"] / 1e3,
            )
    elif kind == "SparkListenerTaskEnd":
        sid = e["Stage ID"]
        log.stage_tasks.setdefault(sid, TaskTotals()).add(_task_totals(e))
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            if acc.get("Metadata") != "sql":
                continue
            try:
                upd = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            key = (sid, int(acc["ID"]))
            log.stage_accum[key] = log.stage_accum.get(key, 0.0) + upd
    elif kind in (_SQL_START, _SQL_AQE):
        _walk_plan(e.get("sparkPlanInfo") or {}, log.accum_node)
    elif kind == _DRIVER_ACCUM:
        ex = int(e["executionId"])
        for acc, value in e.get("accumUpdates", ()):
            key = (ex, int(acc))
            log.exec_accum[key] = log.exec_accum.get(key, 0.0) + float(value)

