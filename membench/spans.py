"""Spans around the benchmark's calls into the program.

A span records name, start, end, parent and request id. Spans are kept in
memory and written out once, when the run ends. With tracing on, every
span also runs its Spark jobs under its own job group, and the job, stage,
task and failed-task counts of that group are resolved from the status
tracker when the run ends (the listener bus has drained by then). With
tracing off the tracer keeps the span timings (the benchmark needs them for
its end-to-end numbers) but never touches Spark.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        # time the tracer spends on its own Spark bookkeeping
        self.bookkeeping_s = 0.0

    def bind(self, spark) -> None:
        """Attach to the session whose jobs the spans count (None: detach,
        before that session stops)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=parent, request=request)
        if request is None and parent is not None:
            sp.request = self.spans[parent].request
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        if self.enabled and self._sc is not None:
            t = time.perf_counter()
            sp.group = f"membench-{idx}"
            self._sc.setJobGroup(sp.group, name)
            self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                t = time.perf_counter()
                outer = self.spans[self._stack[-1]] if self._stack else None
                if outer is not None and outer.group is not None:
                    self._sc.setJobGroup(outer.group, outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - t

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        ivs = sorted((self.spans[c].start, self.spans[c].end) for c in sp.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def resolve_counts(self) -> None:
        """Fill job/stage/task counts of every span from the status tracker
        (its own jobs only: a parent's counts exclude its children's)."""
        if not (self.enabled and self._sc is not None):
            return
        t = time.perf_counter()
        st = self._sc.statusTracker()
        for sp in self.spans:
            if sp.group is None:
                continue
            job_ids = st.getJobIdsForGroup(sp.group)
            sp.jobs = len(job_ids)
            for jid in job_ids:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped stage (shuffle output reused)
                    sp.stages += 1
                    sp.tasks += si.numCompletedTasks
                    sp.tasks_failed += si.numFailedTasks
        self.bookkeeping_s += time.perf_counter() - t

    def total(self, name: str, counter: str) -> int:
        """Sum of a counter over a span and all its descendants."""
        out = 0
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                stack = [i]
                while stack:
                    j = stack.pop()
                    out += getattr(self.spans[j], counter)
                    stack.extend(self.spans[j].children)
        return out

    def named(self, name: str) -> list[int]:
        return [i for i, sp in enumerate(self.spans) if sp.name == name]

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": sp.name,
                            "parent": sp.parent,
                            "request": sp.request,
                            "start_s": round(sp.start - t0, 6),
                            "end_s": round(sp.end - t0, 6),
                            "self_s": round(self.self_time(i), 6),
                            "jobs": sp.jobs,
                            "stages": sp.stages,
                            "tasks": sp.tasks,
                            "tasks_failed": sp.tasks_failed,
                        }
                    )
                    + "\n"
                )
