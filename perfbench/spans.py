"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start, end, parent span and request id, and runs its
Spark jobs under a job group of its own, so job, stage and task counts come
from the status tracker and shuffle/spill bytes from the event log. Spans
stay in memory until the run ends. With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall - covered


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext to tag jobs on; None turns tracing off."""
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.sid if parent else None,
            request or (parent.request if parent else None), time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def collect_job_counts(self) -> None:
        """Jobs, stages, tasks and failed tasks per span (own jobs only),
        from the status tracker. Call while the SparkContext is alive."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.group)
            stages = tasks = failed = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
            sp.counts.update(jobs=len(jobs), stages=stages, tasks=tasks,
                             failed_tasks=failed)

    def add_event_log(self, log_dir: str) -> None:
        """Shuffle-write and spill bytes per span from the Spark event log
        (written when the context stops)."""
        by_group = {sp.group: sp for sp in self.spans}
        stage_group: dict[int, str] = {}
        for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                    elif kind == "SparkListenerTaskEnd":
                        sp = by_group.get(stage_group.get(ev.get("Stage ID")))
                        m = ev.get("Task Metrics") or {}
                        if sp is None or not m:
                            continue
                        w = m.get("Shuffle Write Metrics") or {}
                        c = sp.counts
                        c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0) + int(
                            w.get("Shuffle Bytes Written", 0)
                        )
                        c["spill_bytes"] = c.get("spill_bytes", 0) + int(
                            m.get("Memory Bytes Spilled", 0)
                        ) + int(m.get("Disk Bytes Spilled", 0))

    def coverage(self, sp: Span) -> float:
        """Share of a span's wall that its children cover."""
        return 1.0 - self_time(sp, self.children(sp)) / sp.wall if sp.wall else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [asdict(s) | {"self_s": self_time(s, self.children(s))} for s in self.spans],
                f,
            )
