"""Per-layer tracing from outside the program, with Spark's own records.

``Tracer`` wraps each layer's call in a job group named after the layer
and, where the traced pass asks for it, pins the layer's output with an
eager ``localCheckpoint`` so its jobs end at the layer boundary. The
event log (``spark.eventLog.enabled``, uncompressed) then attributes
every job, stage and task to a layer:

- a stage carries the job group of the job that submitted it;
- micro-batch jobs run under the stream's own job group, so they are
  told apart by their ``streaming.sql.batchId`` local property;
- a job that writes files runs under a SQL execution whose physical
  plan is an ``InsertIntoHadoopFsRelationCommand`` (the write query's
  own subquery stages run under it too), which tells a micro-batch's
  table write apart from the rest of its jobs;
- ``ProgressCollector`` (a Python ``StreamingQueryListener``) records
  each micro-batch's ``durationMs``.

``fold_event_log`` reads the log into ``EventLog``; ``layer_stats``
sums it per job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from procstat import python_workers_cpu_s

BATCH_GROUP = "streaming.batch"  # where micro-batch jobs are filed
ROWS_GROUP = "trace.rows"  # the traced run's own row counts


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    python_cpu_s: float
    rows: int | None = None


class Tracer:
    """Job groups, pins and spans for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        py0 = python_workers_cpu_s()
        t0 = time.time()
        span = Span(name, t0, t0, 0.0)
        try:
            yield span
        finally:
            span.end = time.time()
            span.python_cpu_s = python_workers_cpu_s() - py0
            sc.setJobGroup("untraced", "untraced")
            self.spans.append(span)

    def pin(self, name: str, df):
        """Materialize ``df`` as layer ``name``; returns the pinned frame.
        The row count runs afterwards under its own group."""
        with self.layer(name) as span:
            pinned = df.localCheckpoint(eager=True)
        span.rows = self.count(pinned)
        return pinned

    def count(self, df) -> int:
        """Count rows outside every layer, under ``ROWS_GROUP``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(ROWS_GROUP, ROWS_GROUP)
        try:
            return df.count()
        finally:
            sc.setJobGroup("untraced", "untraced")

    def layer_wall(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def layer_rows(self, name: str) -> int:
        return sum(s.rows or 0 for s in self.spans if s.name == name)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_collector():
    """A ``StreamingQueryListener`` that keeps every progress event and
    the wall time each query was seen to start."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.id)] = time.time()

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append(
                    {"durationMs": dict(p.durationMs or {}), "numInputRows": p.numInputRows}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def settle(self, quiet_s: float = 0.7, limit_s: float = 6.0) -> None:
            """Wait until no progress event arrived for ``quiet_s``: the
            listener bus delivers asynchronously."""
            deadline = time.time() + limit_s
            seen, since = -1, time.time()
            while time.time() < deadline:
                with self.lock:
                    n = len(self.progress)
                if n != seen:
                    seen, since = n, time.time()
                elif time.time() - since >= quiet_s:
                    return
                time.sleep(0.1)

    return ProgressCollector()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class StageAgg:
    group: str
    submit_ms: int | None = None
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    completed: bool = False


@dataclass
class JobRec:
    group: str
    submit_ms: int
    sql_id: int | None = None
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, JobRec] = field(default_factory=dict)
    stages: dict[int, StageAgg] = field(default_factory=dict)
    writes: set[int] = field(default_factory=set)  # SQL executions that write files


def _group(props: dict | None) -> str:
    props = props or {}
    if props.get("streaming.sql.batchId") is not None:
        return BATCH_GROUP
    return props.get("spark.jobGroup.id") or "untraced"


def fold_event_log(path: str) -> EventLog:
    """Read a JSON-lines event log into per-job and per-stage records."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = JobRec(
                    _group(props), ev.get("Submission Time", 0), None if sql_id is None else int(sql_id)
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end_ms = ev.get("Completion Time")
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                # line 0 is "== Physical Plan ==", line 1 the root operator;
                # under adaptive execution the command is its child
                top = ev.get("physicalPlanDescription", "").splitlines()[1:3]
                if any("InsertIntoHadoopFsRelationCommand" in op for op in top):
                    log.writes.add(int(ev["executionId"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                log.stages.setdefault(
                    info["Stage ID"], StageAgg(_group(ev.get("Properties")), info.get("Submission Time"))
                )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in log.stages:
                    log.stages[sid].completed = True
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                st.tasks += 1
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return log


def find_event_log(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def write_jobs_s(log: EventLog, group: str) -> float:
    """Seconds the jobs of ``group`` that write files ran, submission to
    completion."""
    return sum(
        (j.end_ms - j.submit_ms) / 1000
        for j in log.jobs.values()
        if j.group == group and j.sql_id in log.writes and j.end_ms is not None
    )


def layer_stats(log: EventLog) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor CPU (s), shuffle
    bytes written and bytes spilled."""
    out: dict[str, dict[str, float]] = {}

    def row(g: str) -> dict[str, float]:
        return out.setdefault(
            g,
            {"jobs": 0, "stages": 0, "tasks": 0, "exec_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0},
        )

    for job in log.jobs.values():
        row(job.group)["jobs"] += 1
    for st in log.stages.values():
        r = row(st.group)
        r["stages"] += 1 if st.completed else 0
        r["tasks"] += st.tasks
        r["exec_cpu_s"] += st.cpu_ns / 1e9
        r["shuffle_bytes"] += st.shuffle_write
        r["spill_bytes"] += st.spill
    return out
