"""Spans and Spark job counts at the benchmark's call boundaries.

Every timed call into the engine runs inside ``Tracer.span``. The span sets
a Spark job group of its own (``setJobGroup``), so the jobs, stages and
tasks that call launched can be counted afterwards through the status
tracker. Counting happens outside the timed region, after the listener bus
has drained, so counts are exact and cost the measurement nothing.

Spans are kept in memory and written out at the end of a traced run. With
tracing off the span still sets the job group (counts stay available) but
records no span object.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._seq = 0
        self._last: dict[str, str] = {}

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time one call boundary; yields the job-group id its jobs carry."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        outer = self._groups[-1] if self._groups else None
        self.sc.setJobGroup(group, name)
        self._groups.append(group)
        self._last[name] = group
        idx = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            if request is None and parent is not None:
                request = self.spans[parent].request
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, request, group))
            if parent is not None:
                self.spans[parent].children.append(idx)
            self._stack.append(idx)
        try:
            yield group
        finally:
            if idx is not None:
                self.spans[idx].end = time.perf_counter()
                self._stack.pop()
            self._groups.pop()
            if outer is None:
                self.sc.setJobGroup(None, None)
            else:
                self.sc.setJobGroup(outer, outer)

    @contextmanager
    def paused(self):
        """Run a block untraced, as the end-to-end run does (job groups are
        still set, no span is recorded)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, executed stages, completed tasks) of one job group.

        Call ``drain`` first. Stages skipped because their shuffle output
        was reused have no completed task and are not counted."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    def count_spans(self) -> None:
        """Fill every span's job/stage/task counts (self counts: jobs
        launched while a child span was open belong to the child)."""
        self.drain()
        for s in self.spans:
            s.jobs, s.stages, s.tasks = self.counts(s.group)

    def last_group(self, name: str) -> str:
        """Job group of the latest span called ``name`` (traced or not)."""
        return self._last[name]

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its children cover (children of
        one span never overlap: calls are blocking)."""
        covered = sum(self.spans[c].end - self.spans[c].start for c in s.children)
        return (s.end - s.start) - covered

    def write(self, path) -> None:
        base = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                d = asdict(s)
                d["id"] = i
                d["start"] -= base
                d["end"] -= base
                d["self_s"] = self.self_time(s)
                f.write(json.dumps(d) + "\n")
