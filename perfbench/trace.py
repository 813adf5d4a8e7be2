"""In-memory spans around the benchmark's calls into the program.

Each span records (name, start, end, parent, request id) and, while
tracing, the Spark jobs and tasks the call ran. Jobs are counted from the
status tracker's job ids: the benchmark is a single sequential client, so
every job that appears while a span is open belongs to it, including jobs
the program submits from its own worker threads (which a job group set on
the calling thread would miss). Tasks are the completed tasks of stages
first seen in those jobs, so a reused (skipped) shuffle stage is counted
once. Spans are written out once, at exit."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._tracker = None
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()

    def attach(self, spark) -> None:
        """Start counting jobs of this session (tracing only)."""
        if self.enabled:
            t0 = time.perf_counter()
            self._tracker = spark.sparkContext.statusTracker()
            self._seen_jobs = set(self._tracker.getJobIdsForGroup(None))
            self.overhead_s += time.perf_counter() - t0

    def _new_work(self) -> tuple[int, int]:
        jobs = set(self._tracker.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= jobs
        tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def _settle(self) -> None:
        """Credit the work done since the last call to every open span."""
        if self._tracker is None:
            return
        jobs, tasks = self._new_work()
        for i in self._stack:
            self.spans[i]["jobs"] += jobs
            self.spans[i]["tasks"] += tasks

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Yields the span record; callers may add fields to it."""
        rec = {"name": name, "request": request,
               "parent": self._stack[-1] if self._stack else None, "jobs": 0, "tasks": 0}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        self._settle()  # work so far belongs to the enclosing spans only
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._settle()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]
