"""Spans around the benchmark's calls into each layer, and a reducer of
Spark's own event log.

A :class:`Tracer` times every call the benchmark makes into the
library as a span (layer, name, start, end, parent). The timing is the
same with tracing on or off, so end-to-end numbers come from spans of
an untraced run. With ``tag_jobs`` on, each span also sets a Spark job
group (``<layer>|<name>``) for its duration, so the event log ties
every job, stage and task to the layer call that caused it.

:func:`reduce_event_log` reads an uncompressed event log with the
standard library only and sums, per job group, what Spark recorded:
jobs, stages, tasks, job wall time, the scheduling floor, executor
run/CPU/GC time, bytes read, shuffled, spilled and written, and the
Python-worker start/init/run times Spark keeps as SQL metrics.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, fields

#: Spark's SQL-metric names for the Python-worker layer (milliseconds,
#: except the byte count).
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.layer}|{self.name}"


class Tracer:
    """Records spans; optionally tags Spark jobs with the span's group."""

    def __init__(self, spark=None, tag_jobs: bool = False):
        self.sc = spark.sparkContext if (spark is not None and tag_jobs) else None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _tag(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, name: str = ""):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, name, time.perf_counter(), 0.0, parent)
        self.spans.append(sp)
        self._stack.append(idx)
        self._tag(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]].group if self._stack else "bench|idle")

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(
            s.seconds for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        )


# ------------------------------------------------------------ the reducer

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_s: float = 0.0
    non_task_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    output_bytes: int = 0
    py_start_s: float = 0.0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    py_bytes_sent: int = 0

    def add(self, other: "GroupStats") -> "GroupStats":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self

    def as_dict(self) -> dict:
        return asdict(self)


def find_event_log(log_dir: str) -> str:
    """The single application's event-log file under ``log_dir`` (Spark 4
    writes ``eventlog_v2_<app>/events_<n>_<app>``; older layouts write
    one flat file)."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [
            os.path.join(root, n) for n in names
            if not n.startswith((".", "appstatus")) and not n.endswith(".crc")
        ]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return max(files, key=os.path.getmtime)


def _events(path: str):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def reduce_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group (``"bench|idle"`` for untagged jobs), the sums of
    what the event log recorded. ``non_task_s`` is each job's wall time
    minus, for every stage it ran, that stage's longest task: the part
    of the job no task was running for (scheduling, planning the next
    stage, result handling), which the per-job floor is made of."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    longest_task: dict[tuple, int] = defaultdict(int)
    group_stages: dict[str, list] = defaultdict(list)
    stats: dict[str, GroupStats] = defaultdict(GroupStats)

    def group_of(stage_id: int) -> str:
        return job_group.get(stage_job.get(stage_id), "bench|idle")

    for e in _events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            props = e.get("Properties") or {}
            job_group[job] = props.get("spark.jobGroup.id") or "bench|idle"
            job_start[job] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            job = e["Job ID"]
            g = stats[job_group.get(job, "bench|idle")]
            g.jobs += 1
            end = e["Completion Time"]
            g.job_wall_s += (end - job_start.get(job, end)) / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            stats[group_of(sid)].stages += 1
            group_stages[group_of(sid)].append((sid, info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            g = stats[group_of(sid)]
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            g.tasks += 1
            key = (sid, e.get("Stage Attempt ID", 0))
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            longest_task[key] = max(longest_task[key], dur)
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0
            ) / 1000
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                attr = PY_METRICS.get(acc.get("Name"))
                if attr:
                    val = int(acc["Update"])
                    setattr(g, attr, getattr(g, attr) + (
                        val if attr == "py_bytes_sent" else val / 1000
                    ))

    # a stage's longest task is known only once all its tasks ended
    for group, g in stats.items():
        busy = sum(longest_task[k] for k in group_stages[group]) / 1000
        g.non_task_s = max(g.job_wall_s - busy, 0.0)
    return dict(stats)


def total(stats: dict[str, GroupStats], exclude=()) -> GroupStats:
    """Sum the groups whose layer (the part before ``|``) is not in
    ``exclude``."""
    out = GroupStats()
    for group, g in stats.items():
        if group.split("|", 1)[0] not in exclude:
            out.add(g)
    return out
