"""Spans around calls into the package, and Spark task metrics
attributed to them offline.

A span records a name, start, end, parent span and the id of the
top-level operation it belongs to. While it is open, the Spark job
group of the calling thread is set to the span id, so every job the
call runs carries that id in its ``SparkListenerJobStart`` properties.
After the session stops, :func:`parse_event_log` reads the
uncompressed event log with the standard library and
:class:`Attribution` joins job group -> stage ids -> ``TaskEnd``
metrics back to the spans.

Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float  # epoch seconds, the clock Spark stamps tasks with
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans and sets the job group to the innermost one.

    With ``enabled=False`` every span is a no-op, so the untraced run
    pays nothing for the instrumentation."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = "setup"

    def set_op(self, op: str) -> None:
        """Name the operation that the following top-level spans serve."""
        self._op = op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self._op, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------- event log


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int  # written + read
    spill_bytes: int  # memory + disk
    input_bytes: int
    failed: bool


@dataclass
class EventLog:
    job_group: dict[int, str]  # job id -> job group
    job_stages: dict[int, list[int]]
    stage_tasks: dict[int, int]  # submitted stage id -> task count
    tasks: list[Task]


def _event_files(log_dir: str) -> list[str]:
    """The one application's event log: a rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` parts, or a single file."""
    rolled = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog({}, {}, {}, [])
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.job_group[ev["Job ID"]] = props.get("spark.jobGroup.id") or ""
                    log.job_stages[ev["Job ID"]] = list(ev.get("Stage IDs") or [])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    log.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(ev))
    return log


def _task(ev: dict) -> Task:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return Task(
        stage=ev["Stage ID"],
        launch=info.get("Launch Time", 0) / 1000.0,
        finish=info.get("Finish Time", 0) / 1000.0,
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_bytes=sw.get("Shuffle Bytes Written", 0)
        + sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
        failed=reason != "Success",
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class SpanStats:
    """Spark work attributed to one span, its descendants included."""

    dur: float
    self_s: float  # duration minus the time child spans cover
    driver_s: float  # duration minus the union of its tasks' run intervals
    jobs: int
    stages: int
    single_task_stages: int
    tasks: int
    failed_tasks: int
    task_run_s: float
    task_cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_bytes: int
    task_skew: float  # max / median task run time (1.0 without tasks)


class Attribution:
    """Joins the event log to the span tree."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        by_group = {s.group: s.id for s in spans}
        stage_owner: dict[int, int] = {}
        self.own_jobs: dict[int, list[int]] = {}
        for job, group in log.job_group.items():
            sid = by_group.get(group)
            if sid is None:
                continue
            self.own_jobs.setdefault(sid, []).append(job)
            for st in log.job_stages.get(job, []):
                stage_owner.setdefault(st, sid)
        self.own_stages: dict[int, list[int]] = {}
        for st, sid in stage_owner.items():
            if st in log.stage_tasks:  # skipped stages never ran
                self.own_stages.setdefault(sid, []).append(st)
        self.stage_tasks = log.stage_tasks
        self.own_tasks: dict[int, list[Task]] = {}
        for t in log.tasks:
            sid = stage_owner.get(t.stage)
            if sid is not None:
                self.own_tasks.setdefault(sid, []).append(t)

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c.id for c in self.children.get(s, []))
        return out

    def stats(self, span: Span) -> SpanStats:
        ids = self._subtree(span.id)
        tasks = [t for i in ids for t in self.own_tasks.get(i, [])]
        stages = [st for i in ids for st in self.own_stages.get(i, [])]
        kids = self.children.get(span.id, [])
        busy = union_length(
            [(max(t.launch, span.start), min(t.finish, span.end)) for t in tasks if t.finish > span.start and t.launch < span.end]
        )
        runs = [t.run_s for t in tasks]
        med = statistics.median(runs) if runs else 0.0
        return SpanStats(
            dur=span.dur,
            self_s=span.dur - union_length([(c.start, c.end) for c in kids]),
            driver_s=span.dur - busy,
            jobs=sum(len(self.own_jobs.get(i, [])) for i in ids),
            stages=len(stages),
            single_task_stages=sum(1 for st in stages if self.stage_tasks[st] == 1),
            tasks=len(tasks),
            failed_tasks=sum(t.failed for t in tasks),
            task_run_s=sum(runs),
            task_cpu_s=sum(t.cpu_s for t in tasks),
            gc_s=sum(t.gc_s for t in tasks),
            shuffle_bytes=sum(t.shuffle_bytes for t in tasks),
            spill_bytes=sum(t.spill_bytes for t in tasks),
            input_bytes=sum(t.input_bytes for t in tasks),
            task_skew=(max(runs) / med) if med > 0 else 1.0,
        )

    def named(self, name: str) -> list[tuple[Span, SpanStats]]:
        return [(s, self.stats(s)) for s in self.spans if s.name == name]

    def breakdown(self) -> list[dict]:
        """Per span name: count, total duration, self time and the
        attributed Spark work — the committed traced breakdowns."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            st = self.stats(s)
            r = rows.setdefault(s.name, {"name": s.name, "count": 0, "dur_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0, "tasks": 0, "task_run_s": 0.0})
            r["count"] += 1
            for k in ("dur_s", "self_s", "driver_s"):
                r[k] += getattr(st, k.replace("dur_s", "dur"))
            r["jobs"] += st.jobs
            r["tasks"] += st.tasks
            r["task_run_s"] += st.task_run_s
        return sorted(rows.values(), key=lambda r: -r["dur_s"])
