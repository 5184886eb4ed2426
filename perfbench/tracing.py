"""Outside-in tracing for the benchmark's traced run.

``Tracer.patch`` wraps public functions of the library from outside:
each call records a span (name, start, end, parent, op id) in memory
and runs under its own Spark job group, restoring the parent's group
on exit. Nothing inside the library changes. The spans give per-layer
self times and job counts; ``stage_counters`` adds task, shuffle and
spill counts from ``statusTracker()`` and the driver UI's REST
endpoint on localhost.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.enabled = True
        self.op: str | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    # -- wrapping ----------------------------------------------------
    def patch(self, owner, attr: str, name: str | Callable[..., str]) -> None:
        """Wrap ``owner.attr`` in a span. A function imported by name
        into other library modules is replaced there too."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)

        owners = [owner]
        if not isinstance(owner, type):
            owners += [m for mod_name, m in list(sys.modules.items())
                       if mod_name.startswith("mydatalake_spark") and m is not owner
                       and getattr(m, attr, None) is orig]
        for o in owners:
            setattr(o, attr, traced)
            self._patches.append((o, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results -----------------------------------------------------
    def collect_jobs(self) -> None:
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    def self_seconds(self) -> dict[str, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return out

    def inclusive_jobs(self, *names: str) -> set[int]:
        """Jobs of every span with one of ``names`` and of its descendants."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        jobs: set[int] = set()
        todo = [s for s in self.spans if s.name in names]
        while todo:
            s = todo.pop()
            jobs.update(s.jobs)
            todo.extend(children[s.id])
        return jobs


def stage_counters(sc, job_ids: set[int], timeout_s: float = 10.0) -> dict[str, int]:
    """Completed/failed tasks (statusTracker) and shuffle-write/spill
    bytes (UI REST endpoint) summed over the stages of ``job_ids``."""
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = failed = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://localhost:{port}/api/v1/applications/"
           f"{sc.applicationId}/stages")
    deadline = time.monotonic() + timeout_s
    while True:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            stages = [st for st in json.load(resp) if st["stageId"] in stage_ids]
        pending = [st for st in stages if st["status"] == "ACTIVE"]
        if not pending or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    return {
        "tasks": tasks,
        "failed_tasks": failed,
        "shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in stages),
        "spill_bytes": sum(st.get("diskBytesSpilled", 0) for st in stages),
    }
