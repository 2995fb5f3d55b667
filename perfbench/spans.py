"""In-memory spans for the traced run, and their join with Spark's event log.

A span is recorded around each call the benchmark makes into a layer
(``<layer>.<function>``). Each timed operation opens a root span and
sets a Spark job group ``op<id>``; after the run, Spark's event log is
read and every job is attributed to an operation — by its job group, or,
for jobs started on threads that do not inherit the group (a streaming
query's own thread, a ``foreachBatch`` callback), by the operation whose
span contains the job's submission time. With one client and one
operation in flight at a time, containment is unambiguous.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with the event log's ms
    end: float
    parent: int | None
    op: int | None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, ``span`` yields ``None`` and records
    nothing, so untraced runs pay one generator per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, time.time(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time as ``self_s``."""
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": own[s.id]}) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its wall time minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - union_length(children.get(s.id, []), s.start, s.end) for s in spans}


# -- Spark event log -----------------------------------------------------------

#: Per-operation Spark figures, in the order they are reported.
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
    "output_mb", "driver_gap_s",
)

_MB = float(1 << 20)


def read_event_logs(root: str) -> list[list[dict]]:
    """One event list per application log under ``root`` (a plain file,
    or a rolling ``eventlog_v2_*`` directory of ``events_*`` parts)."""
    apps = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        files = (
            sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_"))
            if os.path.isdir(path) else [path]
        )
        events = []
        for f in files:
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        apps.append(events)
    return apps


@dataclass
class Job:
    group: str | None
    start: float  # epoch seconds
    end: float


def parse_app(events: list[dict]) -> tuple[dict[int, Job], dict[int, int], list[dict]]:
    """(jobs by id, stage id → the job that ran it, task-end events)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            start = e["Submission Time"] / 1000.0
            jobs[jid] = Job(props.get("spark.jobGroup.id"), start, start)
            for sid in e.get("Stage IDs", []):
                # a stage runs for the first job that needs it; later
                # jobs that list it skip it
                stage_job[sid] = min(stage_job.get(sid, jid), jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    return jobs, stage_job, tasks


def attribute(jobs: dict[int, Job], ops: dict[int, Span]) -> dict[int, int]:
    """Job id → operation id, by job group ``op<id>`` first, else by the
    operation span that contains the job's submission time."""
    out = {}
    for jid, job in jobs.items():
        if job.group and job.group.startswith("op") and job.group[2:].isdigit() \
                and int(job.group[2:]) in ops:
            out[jid] = int(job.group[2:])
            continue
        for oid, span in ops.items():
            if span.start <= job.start <= span.end:
                out[jid] = oid
                break
    return out


def op_spark_metrics(apps: list[list[dict]], ops: dict[int, Span]) -> dict[int, dict[str, float]]:
    """Operation id → the Spark figures of the jobs attributed to it."""
    out = {oid: dict.fromkeys(SPARK_FIELDS, 0.0) for oid in ops}
    intervals: dict[int, list[tuple[float, float]]] = {oid: [] for oid in ops}
    for events in apps:
        jobs, stage_job, tasks = parse_app(events)
        owner = attribute(jobs, ops)
        stages_seen: dict[int, set[int]] = {}
        for jid, oid in owner.items():
            out[oid]["jobs"] += 1
            intervals[oid].append((jobs[jid].start, jobs[jid].end))
        for t in tasks:
            oid = owner.get(stage_job.get(t["Stage ID"], -1))
            if oid is None:
                continue
            stages_seen.setdefault(oid, set()).add(t["Stage ID"])
            m = t.get("Task Metrics") or {}
            rec = out[oid]
            rec["tasks"] += 1
            rec["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            rec["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            rec["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            rec["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
        for oid, sids in stages_seen.items():
            out[oid]["stages"] += len(sids)
    for oid, span in ops.items():
        out[oid]["driver_gap_s"] = span.wall - union_length(intervals[oid], span.start, span.end)
    return out
