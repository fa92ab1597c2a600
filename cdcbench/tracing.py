"""Spans recorded around calls into the program, and the parser that
assigns Spark's event log to them.

Spans are recorded by the benchmark's own code (``Tracer.span`` and
``Tracer.wrap``), never inside the program.  Times are wall-clock
milliseconds since the epoch, the time base of Spark's event log, so a
job is assigned to the innermost span open at its submission time.  A
span's self time is its duration minus the part of it its child spans
cover.

The event log is the plain JSON-lines file Spark writes with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``.
Jobs are classified by the physical plan of their SQL execution:
``MapInArrow`` marks extraction, and the write paths ``/_envelope/`` and
``/_marks/`` mark the envelope and the marks writes.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metrics of the MapInArrow node (Spark 4.1 names)
PY_WORKER_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"
EVENT_LOG_THREAD = "spark-listener-group-eventLog"

_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\n\s*Input: \[\]\s*\n"
    r"\s*Arguments: (\S+?),")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur_s(self) -> float:
        return (self.end - self.start) / 1000


class Tracer:
    """In-memory spans of one thread; nested spans get the enclosing span
    as parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.time() * 1000, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time() * 1000
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` inside a span that keeps its return value."""
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                s.attrs["result"] = out
                return out
        traced.tracer = self
        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in seconds (children of one span do not
    overlap: they come from one thread)."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start - child_ms.get(s.id, 0.0)) / 1000 for s in spans}


# --- event log -----------------------------------------------------------------


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write: int
    shuffle_read: int
    input_bytes: int
    accums: dict


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list
    sql_id: int | None
    plan: str = ""
    span: int | None = None
    kind: str = "other"  # extract | marks | other
    writes: tuple = ()


@dataclass
class EventLog:
    jobs: dict
    tasks: list
    stage_job: dict
    # accumulator id -> (metric name, metric type), for MapInArrow nodes
    arrow_accums: dict

    def tasks_of(self, jobs) -> list[Task]:
        ids = {j.id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]


def _accums(task_info: dict) -> dict:
    out: dict[int, float] = {}
    for a in task_info.get("Accumulables", []):
        try:
            out[int(a["ID"])] = float(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _arrow_metric_ids(plan_info: dict, out: dict) -> None:
    if "MapInArrow" in plan_info.get("nodeName", ""):
        for m in plan_info.get("metrics", []):
            out[int(m["accumulatorId"])] = (m["name"], m.get("metricType", ""))
    for child in plan_info.get("children", []):
        _arrow_metric_ids(child, out)


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    plans: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    arrow: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql = props.get("spark.sql.execution.id")
                j = Job(ev["Job ID"], float(ev["Submission Time"]), 0.0,
                        list(ev.get("Stage IDs", [])),
                        int(sql) if sql is not None else None)
                jobs[j.id] = j
                for sid in j.stages:
                    stage_job[sid] = j.id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_ms=float(m.get("Executor Run Time", 0)),
                    cpu_ns=float(m.get("Executor CPU Time", 0)),
                    gc_ms=float(m.get("JVM GC Time", 0)),
                    shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                    shuffle_read=int(sr.get("Remote Bytes Read", 0))
                    + int(sr.get("Local Bytes Read", 0)),
                    input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                    accums=_accums(ev.get("Task Info") or {}),
                ))
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                eid = int(ev["executionId"])
                plans[eid] = plans.get(eid, "") + "\n" + ev.get("physicalPlanDescription", "")
                _arrow_metric_ids(ev.get("sparkPlanInfo") or {}, arrow)
    for j in jobs.values():
        j.plan = plans.get(j.sql_id, "") if j.sql_id is not None else ""
        j.writes = tuple(sorted(set(_WRITE_TARGET.findall(j.plan))))
        if "MapInArrow" in j.plan or any("/_envelope/" in w for w in j.writes):
            j.kind = "extract"
        elif any("/_marks/" in w for w in j.writes):
            j.kind = "marks"
    return EventLog(jobs, tasks, stage_job, arrow)


def assign_jobs(log: EventLog, spans: list[Span]) -> None:
    """Give each job the innermost span open at its submission time."""
    for j in log.jobs.values():
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (
                    best is None or s.start >= best.start):
                best = s
        j.span = best.id if best is not None else None


def union_s(jobs) -> float:
    """Seconds covered by the union of the jobs' [submit, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j.submit):
        if cur_e is None or j.submit > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j.submit, j.end
        else:
            cur_e = max(cur_e, j.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000


def spark_metrics(log: EventLog, jobs: list[Job], wall_s: float,
                  cores: int) -> dict:
    tasks = log.tasks_of(jobs)
    run_s = sum(t.run_ms for t in tasks) / 1000
    stages = {t.stage for t in tasks}
    ext = [t.run_ms for t in log.tasks_of([j for j in jobs if j.kind == "extract"])]
    skew = (max(ext) / statistics.median(ext)) if ext and statistics.median(ext) > 0 else 0.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spark.core_idle_share": (max(0.0, 1 - run_s / (wall_s * cores))
                                  if wall_s > 0 else 0.0),
        "spark.task_skew": skew,
    }


def event_log_cpu_s(spark) -> float:
    """CPU seconds used so far by the JVM thread that writes the event log
    (the dispatch thread of Spark's ``eventLog`` listener queue): the
    driver-side cost of tracing, which the untraced run does not pay."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    total = 0
    for tid in mx.getAllThreadIds():
        info = mx.getThreadInfo(tid)
        if info is not None and info.getThreadName() == EVENT_LOG_THREAD:
            total += max(0, mx.getThreadCpuTime(tid))
    return total / 1e9


def udf_metrics(log: EventLog, jobs: list[Job], cores: int) -> dict:
    ext = [j for j in jobs if j.kind == "extract"]
    tasks = log.tasks_of(ext)

    def acc(name):
        ids = {i: typ for i, (n, typ) in log.arrow_accums.items() if n == name}
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        return sum(v * scale.get(ids[i], 1.0)
                   for t in tasks for i, v in t.accums.items() if i in ids)

    job_s = union_s(ext)
    run_s = sum(t.run_ms for t in tasks) / 1000
    return {
        "udfs.extract_job_s": job_s,
        # core-seconds the extraction jobs' tasks ran (JVM scan, Arrow
        # transfer, Python workers, parquet write), and the share of the
        # cores left idle while an extraction job was running
        "udfs.extract_task_run_s": run_s,
        "udfs.extract_idle_share": (max(0.0, 1 - run_s / (job_s * cores))
                                    if job_s > 0 else 0.0),
        "udfs.python_worker_s": acc(PY_WORKER_TIME),
        "udfs.arrow_sent_bytes": acc(PY_SENT),
        "udfs.arrow_returned_bytes": acc(PY_RETURNED),
        "udfs.output_rows": acc(PY_ROWS),
    }
