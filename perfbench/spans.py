"""In-memory spans around the benchmark's calls into the engine.

A span records name, trace id (one per benchmark operation), parent,
start and end, and the Spark jobs, stages and tasks its call ran. Job
attribution uses a job group per span (``setJobGroup``) read back via
``statusTracker()``; a parent's counts include its children's. Spans
are kept in memory and written as JSON when the run ends. With
tracing off, ``span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import uuid

ROOT_GROUP = "perfbench"


class Span:
    __slots__ = ("name", "trace_id", "span_id", "parent_id", "start",
                 "end", "jobs", "stages", "tasks", "failed_tasks",
                 "attrs")

    def __init__(self, name, trace_id, span_id, parent_id, attrs):
        self.name, self.trace_id = name, trace_id
        self.span_id, self.parent_id = span_id, parent_id
        self.start = self.end = time.perf_counter()
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.attrs = attrs

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        # job groups must not collide with another tracer's in the
        # same Spark application
        self._prefix = f"{ROOT_GROUP}-{uuid.uuid4().hex[:8]}"

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        """Time one call; with tracing on, also count its Spark work.
        Yields the Span (or None with tracing off)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else name)
        sp = Span(name, tid, next(self._ids),
                  parent.span_id if parent else None, attrs)
        group = f"{self._prefix}-{sp.span_id}"
        self._stack.append(sp)
        self.sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count(sp, group)
            if parent is not None:
                for f in ("jobs", "stages", "tasks", "failed_tasks"):
                    setattr(parent, f, getattr(parent, f)
                            + getattr(sp, f))
            if parent is None:
                self.sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)
            else:
                self.sc.setJobGroup(f"{self._prefix}-{parent.span_id}",
                                    parent.name)
            self.spans.append(sp)

    def _count(self, sp: Span, group: str) -> None:
        """Add the span's own group's work to what its children's
        added."""
        for f, n in zip(("jobs", "stages", "tasks", "failed_tasks"),
                        count_group(self.sc, group)):
            setattr(sp, f, getattr(sp, f) + n)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, meta: dict) -> None:
        """Spans plus per-name self time (span duration minus the time
        its direct children cover) as one JSON file."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        self_s: dict[str, float] = {}
        rows = []
        for s in self.spans:
            own = s.seconds - _covered(children.get(s.span_id, []),
                                       s.start, s.end)
            self_s[s.name] = self_s.get(s.name, 0.0) + own
            rows.append({**s.as_dict(), "self_s": own})
        with open(path, "w") as f:
            json.dump({"meta": meta, "self_s_by_name": self_s,
                       "spans": rows}, f, indent=1, default=str)


def count_group(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) Spark ran in a job group;
    stages skipped because their shuffle was reused do not count."""
    st = sc.statusTracker()
    jobs, stage_ids = 0, set()
    for jid in st.getJobIdsForGroup(group):
        jobs += 1
        job = st.getJobInfo(jid)
        stage_ids.update(job.stageIds if job else [])
    stages = tasks = failed = 0
    for sid in sorted(stage_ids):
        stage = st.getStageInfo(sid)
        ran = (stage.numCompletedTasks + stage.numFailedTasks
               if stage is not None else 0)
        if ran == 0:
            continue
        stages += 1
        tasks += ran
        failed += stage.numFailedTasks
    return jobs, stages, tasks, failed


def _covered(kids: list[Span], lo: float, hi: float) -> float:
    """Length of the union of the children's intervals inside
    [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(k.start, lo), min(k.end, hi)) for k in kids):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
