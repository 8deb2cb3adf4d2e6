"""Spans around the benchmark's calls into each layer, and the Spark work
attributed to them.

A span records name, layer, start, end, parent and operation id. While a
span is open its id is the thread's Spark job group, so every job the
call starts (including AQE stage jobs and broadcast jobs, which inherit
the group) is attributed to the innermost open span. After each
operation ``resolve`` reads the jobs of each new span from the status
tracker and their stages from the status store. Spans stay in memory
and are written out by the caller when the run ends.

The disabled tracer keeps the same interface and records nothing, so the
untraced run pays only a context-manager call per layer call.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "executor_run_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0  # stages that ran (skipped ones excluded)
    work: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.sid] = s.seconds - covered
    return out


class Tracer:
    """Records spans and attributes Spark jobs/stages to them."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._resolved = 0
        self._sc = None

    def bind(self, spark) -> None:
        """Attach the session once it exists (the first span starts it)."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=next(self._ids),
            name=name,
            layer=layer,
            op=op if op is not None else (parent.op if parent else None),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"perfbench-{s.sid}", s.name)

    def resolve(self) -> None:
        """Fill jobs and stage metrics of spans closed since the last call.
        Call between operations: the status store keeps a bounded number
        of jobs, and the listener bus is drained first."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans[self._resolved:]:
            s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.sid}"))
            s.work = dict.fromkeys(STAGE_FIELDS, 0)
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    self._add_stage(s, store, sid)
        self._resolved = len(self.spans)

    @staticmethod
    def _add_stage(s: Span, store, stage_id: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage was never submitted
            return
        if st.status().toString() == "SKIPPED":
            return
        s.stages += 1
        w = s.work
        w["tasks"] += st.numTasks()
        w["failed_tasks"] += st.numFailedTasks()
        w["executor_run_ms"] += st.executorRunTime()
        w["shuffle_read_bytes"] += st.shuffleReadBytes()
        w["shuffle_write_bytes"] += st.shuffleWriteBytes()
        w["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        w["peak_exec_mem_bytes"] = max(w["peak_exec_mem_bytes"], st.peakExecutionMemory())

    def records(self) -> list[dict]:
        selfs = self_times(self.spans)
        out = []
        for s in self.spans:
            d = asdict(s)
            d["seconds"] = s.seconds
            d["self_seconds"] = selfs[s.sid]
            out.append(d)
        return out
