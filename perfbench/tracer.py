"""In-memory spans and Spark counters for traced runs.

Spans are ``(name, start, end, parent)`` records kept in a list and
written out as JSON when the run ends. Spark jobs and tasks are counted
by job-id delta through the status tracker (its job list is capped at
``spark.ui.retainedJobs``, so its length is not a count), and JVM GC time
is read from the driver's GarbageCollectorMXBeans over py4j.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _gc_ms(self) -> int:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def mark(self) -> tuple[int, int]:
        return self._last_job_id(), self._gc_ms()

    def since(self, mark: tuple[int, int], name: str, start: float, end: float) -> dict:
        """Record span ``name`` over [start, end] and return the Spark jobs,
        completed tasks and GC seconds since ``mark``."""
        job0, gc0 = mark
        gc_s = (self._gc_ms() - gc0) / 1000.0
        job1 = self._last_job_id()
        st = self.spark.sparkContext.statusTracker()
        stage_ids: set[int] = set()  # a reused shuffle stage is listed by every job
        for j in range(job0 + 1, job1 + 1):
            info = st.getJobInfo(j)
            stage_ids.update(info.stageIds if info else [])
        tasks = 0
        for s in stage_ids:
            stage = st.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": self._stack[-1] if self._stack else None})
        return {"jobs": job1 - job0, "tasks": tasks, "gc_s": gc_s}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
