"""Spark event-log parser for the traced run.

``parse(path)`` reads an uncompressed event log (a file, or Spark 4's
rolling ``eventlog_v2_*`` directory) and returns one :class:`Job` per
``SparkListenerJobStart``: its job group (the tracer's span id), its
submit/end times, the streaming batch it ran for, and the counters of
its tasks, rolled up under the benchmark's metric names.

Task-end accumulables are mapped to plan nodes through the
``sparkPlanInfo`` of ``SQLExecutionStart`` and ``SQLAdaptiveExecutionUpdate``
events; driver-side SQL metrics (``SQLDriverAccumUpdates``, where file
scans report files and bytes read) are credited to the first job of
their SQL execution.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# task accumulables -> (metric, scale to the metric's unit)
TASK_METRICS = {
    "internal.metrics.executorCpuTime": ("spark.exec_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("spark.exec_run_s", 1e-3),
    "internal.metrics.resultSize": ("spark.result_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("spark.shuffle_bytes", 1.0),
}

# SQL metric name -> benchmark metric, per node class
SCAN_METRICS = {
    "number of files read": "sources.files_read",
    "size of files read": "sources.bytes_read",
    "number of output rows": "sources.rows_read",
    "scan time": "sources.read_s",
    "metadata time": "sources.read_s",
}
PYTHON_METRICS = {
    "time to run Python workers": "python.worker_s",
    "data sent to Python workers": "python.bytes_out",
    "data returned from Python workers": "python.bytes_in",
}
WRITE_METRICS = {
    "number of written files": "serde.files_written",
    "written output": "serde.bytes_written",
}
# the metric whose presence classifies a plan node
NODE_CLASSES = (
    ("number of files read", SCAN_METRICS),
    ("data sent to Python workers", PYTHON_METRICS),
    ("number of written files", WRITE_METRICS),
)
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    job_id: int
    group: str | None
    execution: int | None
    batch: str | None
    submit_s: float
    end_s: float = 0.0
    stages: set = field(default_factory=set)
    metrics: dict = field(default_factory=lambda: defaultdict(float))


def _files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("events_*") if p.is_file())


def _register_plan(info: dict, accums: dict) -> None:
    """Map every SQL metric accumulator of ``info`` to a benchmark metric."""
    todo = [info]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", ()))
        names = {m["name"] for m in node.get("metrics", ())}
        table = next((t for key, t in NODE_CLASSES if key in names), None)
        if table is None:
            continue
        for m in node["metrics"]:
            if m["name"] in table:
                scale = TIME_SCALE.get(m.get("metricType"), 1.0)
                accums[m["accumulatorId"]] = (table[m["name"]], scale)


def parse(path: str | Path) -> list[Job]:
    """The jobs of an event log, in submit order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    accums: dict[int, tuple[str, float]] = {}
    exec_jobs: dict[int, list[int]] = defaultdict(list)
    driver_updates: list[tuple[int, list]] = []
    for f in _files(Path(path)):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        execution=int(ex) if ex is not None else None,
                        batch=props.get("streaming.sql.batchId"),
                        submit_s=ev["Submission Time"] / 1000.0,
                    )
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = job.job_id
                    if job.execution is not None:
                        exec_jobs[job.execution].append(job.job_id)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_s = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    m = job.metrics
                    m["spark.tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        m["spark.failed_tasks"] += 1
                    for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                        try:
                            value = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        name = acc.get("Name")
                        if name in TASK_METRICS:
                            key, scale = TASK_METRICS[name]
                            m[key] += value * scale
                        elif acc.get("ID") in accums:
                            key, scale = accums[acc["ID"]]
                            m[key] += value * scale
                elif kind in (SQL_START, SQL_ADAPTIVE):
                    _register_plan(ev["sparkPlanInfo"], accums)
                elif kind == SQL_DRIVER_ACCUM:
                    driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    for execution, updates in driver_updates:
        owners = exec_jobs.get(execution)
        if not owners:
            continue
        m = jobs[min(owners)].metrics
        for acc_id, value in updates:
            if acc_id in accums:
                key, scale = accums[acc_id]
                m[key] += float(value) * scale
    for job in jobs.values():
        job.metrics["spark.stages"] = float(len(job.stages))
        job.metrics["spark.jobs"] = 1.0
    return sorted(jobs.values(), key=lambda j: j.job_id)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
