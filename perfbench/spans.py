"""Spans around layer calls, and Spark's event log folded onto them.

A span is (name, start, end, parent).  While a span is open its id is the
Spark job group, so every job it starts can be attributed to it: the
status tracker lists the group's job ids when the span closes, and the
event log (written uncompressed, read after the session stops) gives each
job's submission and completion times and each task's metrics.  Spans stay
in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def bind(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"span-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if sc is not None:
                s.jobs = sorted(sc.statusTracker().getJobIdsForGroup(f"span-{s.sid}"))
                if parent is not None:
                    sc.setJobGroup(f"span-{parent.sid}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span opened inside it."""
        ids, out = {span.sid}, [span]
        for s in self.spans[span.sid + 1:]:
            if s.parent in ids:
                ids.add(s.sid)
                out.append(s)
        return out

    def jobs_under(self, span: Span) -> list[int]:
        return sorted(j for s in self.subtree(span) for j in s.jobs)


@dataclass
class JobStats:
    submitted: float = 0.0  # epoch seconds
    completed: float = 0.0
    execution: int | None = None  # SQL execution id


class EventLog:
    """Per-job and per-stage totals folded from one application's log."""

    TASK_KEYS = ("tasks", "input_records", "shuffle_write_bytes", "shuffle_write_records",
                 "shuffle_read_bytes", "fetch_wait_ms", "spill_disk_bytes")

    def __init__(self, log_dir: str):
        self.jobs: dict[int, JobStats] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict[str, int]] = {}
        # Bytes of files scanned per SQL execution: the "size of files
        # read" plan metric, which the driver posts (task input metrics do
        # not count parquet bytes).
        self._files_read_ids: set[int] = set()
        self.files_read: dict[int, int] = {}
        files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        for path in files:
            with open(path) as f:
                for line in f:
                    self._fold(json.loads(line))

    def _fold(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = self.jobs.setdefault(e["Job ID"], JobStats())
            job.submitted = e["Submission Time"] / 1000.0
            execution = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if execution is not None:
                job.execution = int(execution)
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs.setdefault(e["Job ID"], JobStats()).completed = e["Completion Time"] / 1000.0
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan_metrics(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            self._plan_metrics({"metrics": e["sqlPlanMetrics"]})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                if acc_id in self._files_read_ids:
                    ex = e["executionId"]
                    self.files_read[ex] = self.files_read.get(ex, 0) + value
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            acc = self.stage_tasks.setdefault(e["Stage ID"], dict.fromkeys(self.TASK_KEYS, 0))
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            acc["tasks"] += 1
            acc["input_records"] += m["Input Metrics"]["Records Read"]
            acc["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            acc["shuffle_write_records"] += sw["Shuffle Records Written"]
            acc["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            acc["fetch_wait_ms"] += sr["Fetch Wait Time"]
            acc["spill_disk_bytes"] += m["Disk Bytes Spilled"]

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            if m["name"] == "size of files read":
                self._files_read_ids.add(m["accumulatorId"])
        for child in node.get("children", ()):
            self._plan_metrics(child)

    def totals(self, job_ids) -> dict[str, int]:
        """Task totals of the stages that ran under ``job_ids``, plus the
        job count.  A stage is charged to the first job that lists it, so
        stages skipped by later jobs (reused shuffle output) count once."""
        job_ids = set(job_ids)
        out = dict.fromkeys(self.TASK_KEYS, 0)
        for sid, acc in self.stage_tasks.items():
            if self.stage_job.get(sid) in job_ids:
                for k, v in acc.items():
                    out[k] += v
        out["jobs"] = len(job_ids)
        executions = {self.jobs[j].execution for j in job_ids if j in self.jobs}
        out["files_read_bytes"] = sum(self.files_read.get(x, 0) for x in executions)
        return out

    def busy_seconds(self, job_ids, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one of the jobs ran."""
        spans = sorted(
            (max(start, self.jobs[j].submitted), min(end, self.jobs[j].completed))
            for j in job_ids if j in self.jobs
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy
