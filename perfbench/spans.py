"""Span and counter recorder, self time, and Spark event-log parsing.

The benchmark records a span around every call it makes into a layer's
public function. With tracing on, each span also owns a Spark job group
(``pb:<span id>``), its job/stage/task counts are read from Spark's
status tracker right after the call (the status store keeps only the
most recent ~1000 jobs and stages), and its task metrics are joined
from the event log when the session has ended.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.dur - union_length(clipped)
    return out


class Recorder:
    """In-memory span store. ``sc`` is the SparkContext when tracing is
    on; without it spans are plain timers and no Spark call is made."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent)
        self.spans.append(s)
        if self.sc is not None:
            s.job_group = f"{JOB_GROUP_PREFIX}{s.id}"
            self.sc.setJobGroup(s.job_group, name)
        self._stack.append(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                s.counts = status_counts(self.sc, s.job_group)
                outer = self.spans[self._stack[-1]] if self._stack else None
                if outer is not None:
                    self.sc.setJobGroup(outer.job_group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def status_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and their completed tasks for one job
    group, from the live status store."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            stages += 1
            tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


#: Task-metric sums kept per job group: (output key, event-log path, scale).
TASK_SUMS = (
    ("run_s", ("Executor Run Time",), 1e-3),
    ("cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_write_mb", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1e-6),
    ("spill_mb", ("Disk Bytes Spilled",), 1e-6),
    ("out_mb", ("Output Metrics", "Bytes Written"), 1e-6),
)


def parse_event_log(lines) -> dict[str, dict]:
    """Job group -> summed task metrics plus job, stage and task
    counts, from the JSON lines of one Spark event log. Tasks are
    attributed to a group through their stage's job; stages shared by
    several jobs count once, for the first job that ran them."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        if group not in out:
            out[group] = {k: 0.0 for k, _, _ in TASK_SUMS}
            out[group].update(jobs=0, stages=0, tasks=0)
        return out[group]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                bucket(group)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            b = bucket(group)
            b["tasks"] += 1
            for key, path, scale in TASK_SUMS:
                v = metrics
                for p in path:
                    v = v.get(p, 0) if isinstance(v, dict) else 0
                b[key] += float(v or 0) * scale
    return out
