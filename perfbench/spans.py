"""Spans recorded around calls into the engine, and the Spark event-log
parser that turns a traced run into the per-layer table.

The recorder keeps spans in memory (name, start, end, parent). When it is
given a SparkContext, each span also becomes the job group of every Spark
job started inside it, so event-log jobs, stages and tasks attach to the
innermost span that caused them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log task times
    end: float = 0.0
    t0: float = field(default=0.0, repr=False)  # monotonic, for durations
    t1: float = field(default=0.0, repr=False)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Recorder:
    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = sc  # set to tag Spark jobs with their span

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans):04d}", name, parent.id if parent else None, time.time())
        sp.t0 = time.monotonic()
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.monotonic()
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def get(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def seconds(self, name: str) -> float:
        sp = self.get(name)
        return sp.seconds if sp else 0.0

    def subtree(self, span: Span) -> set[str]:
        ids = {span.id}
        for s in self.spans:  # spans are appended in start order
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def dump(self) -> list[dict]:
        """Spans with their duration and self time (duration minus the time
        covered by child spans, which never overlap)."""
        child_s: dict[str, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.seconds
        return [
            {k: v for k, v in asdict(s).items() if k not in ("t0", "t1")}
            | {"seconds": s.seconds, "self_s": s.seconds - child_s.get(s.id, 0.0)}
            for s in self.spans
        ]


@dataclass
class Task:
    group: str | None
    launch: float  # epoch seconds
    finish: float
    run_s: float
    shuffle_write: int
    spill: int
    python_ms: float


def read_event_log(directory: str) -> tuple[dict[str, int], list[Task]]:
    """(jobs per job group, tasks) from every event-log file under
    ``directory``."""
    jobs: dict[str, int] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[Task] = []
    files = sorted(
        os.path.join(root, f) for root, _, names in os.walk(directory) for f in names
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = ev.get("Properties", {}).get("spark.jobGroup.id")
                    jobs[group] = jobs.get(group, 0) + 1
                elif kind == "SparkListenerStageSubmitted":
                    stage_group[ev["Stage Info"]["Stage ID"]] = ev.get(
                        "Properties", {}
                    ).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    py = sum(
                        float(a.get("Update", 0))
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == "time to run Python workers"
                    )
                    tasks.append(Task(
                        stage_group.get(ev["Stage ID"]),
                        info["Launch Time"] / 1000.0,
                        info["Finish Time"] / 1000.0,
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                        py,
                    ))
    return jobs, tasks


def busy_seconds(tasks: list[Task], start: float, end: float) -> float:
    """Length of [start, end] covered by at least one running task."""
    ivs = sorted((max(t.launch, start), min(t.finish, end)) for t in tasks)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def op_layers(rec: Recorder, op: str, jobs: dict[str, int], tasks: list[Task]) -> dict[str, float]:
    """Per-op layer metrics from the op's span and its call/action children."""
    sp, call, action = rec.get(op), rec.get(f"{op}.call"), rec.get(f"{op}.action")
    groups = rec.subtree(sp)
    mine = [t for t in tasks if t.group in groups]
    return {
        f"{op}.call_s": call.seconds,
        f"{op}.action_s": action.seconds,
        f"{op}.jobs_in_call": sum(jobs.get(g, 0) for g in rec.subtree(call)),
        f"{op}.jobs_in_action": sum(jobs.get(g, 0) for g in rec.subtree(action)),
        f"{op}.tasks": len(mine),
        f"{op}.task_s": sum(t.run_s for t in mine),
        f"{op}.shuffle_write_mb": sum(t.shuffle_write for t in mine) / MB,
        f"{op}.spill_mb": sum(t.spill for t in mine) / MB,
        f"{op}.idle_s": sp.seconds - busy_seconds(tasks, sp.start, sp.end),
    }


def python_seconds(rec: Recorder, name: str, tasks: list[Task]) -> float:
    """Arrow-eval Python worker time of the tasks run under the named span."""
    sp = rec.get(name)
    groups = rec.subtree(sp) if sp else set()
    return sum(t.python_ms for t in tasks if t.group in groups) / 1000.0
