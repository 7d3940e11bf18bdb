"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: the public functions
of each engine layer are wrapped for the duration of a traced round and
restored afterwards, so untraced rounds run the engine unmodified.
Spans stay in memory and are written out once, when the run ends.

Spark work is counted through the status tracker: job ids are dense and
increasing, so the jobs a round ran are the ids that appeared during it
(this also catches jobs launched from the engine's commit threads,
which a thread-local job group would miss).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str):
        """Record one span; nested spans on the same thread get it as
        their parent."""
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": span_id,
                        "parent": parent,
                        "trace": trace_id,
                        "name": name,
                        "start": start,
                        "end": end,
                    }
                )

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]], trace_id: str):
        """Wrap `owner.attr` with a span named `name` for each target,
        and restore the originals on exit."""
        originals = []
        for owner, attr, name in targets:
            original = owner.__dict__[attr]

            def wrapper(*args, _fn=original, _name=name, **kwargs):
                with self.span(_name, trace_id):
                    return _fn(*args, **kwargs)

            functools.update_wrapper(wrapper, original)
            originals.append((owner, attr, original))
            setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            for owner, attr, original in reversed(originals):
                setattr(owner, attr, original)

    def totals(self) -> dict[str, dict]:
        """Per span name: call count, wall seconds and self seconds
        (wall minus the part covered by child spans)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            wall = s["end"] - s["start"]
            t["calls"] += 1
            t["wall_s"] += wall
            t["self_s"] += wall - child_time.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkWork:
    """Spark jobs, stages and completed tasks launched between two
    points of the run."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()

    def _job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def mark(self) -> set[int]:
        return self._job_ids()

    def since(self, mark: set[int]) -> dict[str, int]:
        jobs = self._job_ids() - mark
        stages: set[int] = set()
        for job_id in jobs:
            info = self.tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for stage_id in stages:
            info = self.tracker.getStageInfo(stage_id)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
