"""Span recorder, Spark job-group counters and process memory readings.

Spans live in memory until the run ends.  Each span runs under its own
Spark job group, so once the run is over the scheduler's status tracker
tells how many jobs, stages and tasks each span caused; a layer's self
time is its span's duration minus the time its child spans cover.

:class:`NullTracer` is the untraced twin: same interface, records
nothing, materialises nothing — the end-to-end numbers come from it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SETTLE_S = 10.0  # longest wait for the status store to see every job end


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextmanager
    def op(self, name: str):
        yield None

    @contextmanager
    def span(self, name: str):
        yield None

    def materialise(self, df):
        return df


class Tracer:
    """Records spans; ``op`` opens a root span with a fresh op id shared
    by every span opened inside it."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._pinned = []

    @contextmanager
    def op(self, name: str):
        self._op += 1
        with self.span(name) as s:
            yield s

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=self._op,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, start: float, end: float) -> None:
        """A root span timed by the caller (no Spark work of its own)."""
        s = Span(id=len(self.spans), name=name, op=self._op, parent=None,
                 start=start, end=end)
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)

    def materialise(self, df):
        """Persist ``df`` and count it inside the current span, so the
        span's time is the layer's own work; the row count lands in the
        span's ``rows``."""
        df = df.persist()
        n = df.count()
        if self._stack:
            self._stack[-1].counts["rows"] = n
        self._pinned.append(df)
        return df

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    def finish(self) -> None:
        """Fill self times and Spark counts.  The status store is fed by
        an asynchronous listener bus, so wait until every job it knows
        for our groups has ended."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.dur
        for s in self.spans:
            s.self_s = max(0.0, s.dur - children.get(s.id, 0.0))
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + SETTLE_S
        while True:
            pending = False
            for s in self.spans:
                s.jobs = s.stages = s.tasks = s.failed_tasks = 0
                for jid in tracker.getJobIdsForGroup(s.group):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    if info.status not in ("SUCCEEDED", "FAILED"):
                        pending = True
                    s.jobs += 1
                    for sid in info.stageIds:
                        st = tracker.getStageInfo(sid)
                        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                            continue  # skipped: its output was reused
                        s.stages += 1
                        s.tasks += st.numCompletedTasks
                        s.failed_tasks += st.numFailedTasks
            if not pending or time.monotonic() > deadline:
                return
            time.sleep(0.2)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [asdict(s) | {"dur": s.dur} for s in self.spans]},
                f,
                indent=1,
            )

    # -- queries over finished spans ---------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """``(jvm, python)`` peak resident set sizes in MB (the kernel's
    high-water marks, so no sampling is needed)."""
    py = _status_kb("self", "VmHWM") / 1024.0
    jvm = _status_kb(jvm_pid, "VmHWM") / 1024.0 if jvm_pid else 0.0
    return jvm, py
