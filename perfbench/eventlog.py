"""Reader for Spark's JSON event log, using only the standard library.

The session writes the log uncompressed (``spark.eventLog.compress=false``).
Spark 4 rolls it by default into a directory::

    eventlog_v2_<app>/events_1_<app>, events_2_<app>, ...
    eventlog_v2_<app>/appstatus_<app>        (empty marker)

Older layouts write one file per application. ``read_tasks`` accepts the
log directory, the application directory or a single file, and returns one
``Task`` per ``SparkListenerTaskEnd``, tagged with the submission time of
the job that ran it. ``attribute`` then sums the tasks per benchmark span:
a job belongs to the innermost span open when it was submitted. Job groups
are not used, because jobs submitted from worker threads do not inherit
them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    submitted: float    # epoch seconds when the task's job was submitted
    run_s: float        # executor run time
    cpu_s: float
    gc_s: float
    shuffle_write: int  # bytes
    spill: int          # memory plus disk bytes spilled
    result: int         # bytes returned to the driver
    written: int        # bytes written by output tasks
    job: int


@dataclass
class Totals:
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    result: int = 0
    written: int = 0
    jobs: set = field(default_factory=set)

    def add(self, t: Task) -> None:
        self.task_s += t.run_s
        self.cpu_s += t.cpu_s
        self.gc_s += t.gc_s
        self.shuffle_write += t.shuffle_write
        self.spill += t.spill
        self.result += t.result
        self.written += t.written
        self.jobs.add(t.job)

    def merge(self, other: Totals) -> None:
        self.task_s += other.task_s
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write += other.shuffle_write
        self.spill += other.spill
        self.result += other.result
        self.written += other.written
        self.jobs |= other.jobs


def log_files(path: str) -> list[str]:
    """Event files of the one application under ``path``, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        return [os.path.join(path, n) for n in
                sorted(rolled, key=lambda n: int(n.split("_")[1]))]
    apps = [n for n in names if not n.startswith("appstatus_")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {path}: {apps}")
    return log_files(os.path.join(path, apps[0]))


def read_tasks(path: str) -> list[Task]:
    stage_job: dict[int, int] = {}
    submitted: dict[int, float] = {}
    tasks: list[Task] = []
    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job = e["Job ID"]
                    submitted[job] = e["Submission Time"] / 1000.0
                    for s in e["Stage IDs"]:
                        # a stage listed again by a later job was skipped
                        # there: its tasks ran under the first job
                        stage_job.setdefault(s, job)
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    job = stage_job.get(e["Stage ID"], -1)
                    tasks.append(Task(
                        submitted=submitted.get(
                            job, e["Task Info"]["Launch Time"] / 1000.0),
                        run_s=m["Executor Run Time"] / 1000.0,
                        cpu_s=m["Executor CPU Time"] / 1e9,
                        gc_s=m["JVM GC Time"] / 1000.0,
                        shuffle_write=m["Shuffle Write Metrics"][
                            "Shuffle Bytes Written"],
                        spill=(m["Memory Bytes Spilled"]
                               + m["Disk Bytes Spilled"]),
                        result=m["Result Size"],
                        written=m["Output Metrics"]["Bytes Written"],
                        job=job,
                    ))
    return tasks


def attribute(tasks: list[Task], spans: list[tuple[float, float]]
              ) -> tuple[dict[int, Totals], Totals]:
    """Sum tasks per span. ``spans`` are (start, end) intervals, listed
    parents first, that nest or are disjoint; a task goes to the innermost
    span that contains its job's submission time. Returns the totals per
    span index and the totals of tasks that fall in no span."""
    per_span: dict[int, Totals] = {}
    outside = Totals()
    for t in tasks:
        best = None
        for k, (start, end) in enumerate(spans):
            if start <= t.submitted <= end and (
                    best is None or start >= spans[best][0]):
                best = k
        (outside if best is None
         else per_span.setdefault(best, Totals())).add(t)
    return per_span, outside
