"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here observes the engine from outside, through public APIs:

* :class:`Tracer` — spans recorded around the benchmark's own calls
  into the engine's layers (name, start, end, parent), kept in memory
  and written as one JSON file when the run ends.  Disabled, it records
  nothing.
* :class:`ProgressLog` — a ``StreamingQueryListener`` keeping every
  progress event: trigger phases (``durationMs``), input rows per
  source and the state operators' rows, memory and timings.
* :func:`group_work` — jobs and completed tasks of a job group, from
  ``sparkContext.statusTracker()``.  Micro-batch jobs run under the
  query's ``runId`` job group, not the default group.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()  # per-thread stack of open spans

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record one span.  The parent defaults to the innermost open
        span of the calling thread; callbacks that Spark runs on its own
        threads pass ``parent`` explicitly."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": time.time(), "parent": parent}
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class ProgressLog(StreamingQueryListener):
    """Every progress event of the session's streaming queries, as the
    dicts ``StreamingQuery.recentProgress`` would hold."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def group_work(sc, group: str, exclude: set[int] = frozenset()) -> tuple[set[int], int]:
    """``(job ids, completed tasks)`` of job group ``group`` in the
    status tracker, leaving out the jobs in ``exclude``."""
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group)) - set(exclude)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return jobs, tasks
