"""In-memory spans and Spark engine counts for the benchmark.

Spans are recorded only from the benchmark's own code, around calls into
the package's public functions: ``(id, name, parent, start, end)`` with
times from ``perf_counter``. They stay in memory and are written out once,
when the run ends. Engine counts come from ``SparkContext.statusTracker``
by job group; nothing inside the package is touched.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder for the traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": start, "end": end, **attrs})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class JobGroups:
    """Tags each operation's Spark jobs with a fresh job group and reads
    the jobs, stages and tasks that group ran from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count()

    @contextmanager
    def group(self, label: str):
        gid = f"bench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        self.last = gid
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        seen: set[int] = set()
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages,
                "spark.tasks": tasks, "spark.failed_tasks": failed}
