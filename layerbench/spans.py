"""Spans around the benchmark's calls into the engine, plus Spark counters.

A span is (id, parent, op, name, start, end); spans of one operation share
``op``. They are kept in memory and written as JSON lines when the run ends.
Spark counters come from Spark's status store after the run: every job
is attributed to the innermost span whose interval holds its submission
time, and carries its stages' input, shuffle, output and executor-run-time
figures. The untraced run uses ``NullTracer`` and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# the status store keeps job times in whole milliseconds
_MS = 0.001


@dataclass
class Span:
    id: int
    parent: "int | None"
    op: int
    name: str
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)   # [(job_id, submit_s, complete_s, stage dict)]

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def op(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextlib.contextmanager
    def op(self, name: str):
        """A top-level operation: a root span with a fresh operation id."""
        self._next_op += 1
        with self.span(name):
            yield

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None,
                 parent.op if parent else self._next_op, name, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    # ---- Spark counters ------------------------------------------------------
    def attach_jobs(self, spark) -> None:
        """Attribute every finished Spark job to its innermost span."""
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        by_depth = sorted(self.spans, key=lambda s: -self._depth(s))
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.submissionTime().isEmpty() or j.completionTime().isEmpty():
                continue
            sub = j.submissionTime().get().getTime() / 1000.0
            end = j.completionTime().get().getTime() / 1000.0
            owner = next((s for s in by_depth
                          if s.start - _MS <= sub <= s.end + _MS), None)
            if owner is None:
                continue
            stages = {"input": 0, "shuffle_read": 0, "shuffle_write": 0,
                      "output": 0, "run_ms": 0, "result": 0}
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:   # a skipped stage has no attempt
                    continue
                stages["input"] += st.inputBytes()
                stages["shuffle_read"] += st.shuffleReadBytes()
                stages["shuffle_write"] += st.shuffleWriteBytes()
                stages["output"] += st.outputBytes()
                stages["run_ms"] += st.executorRunTime()
                stages["result"] += st.resultSize()
            owner.jobs.append((j.jobId(), sub, end, stages))

    def _depth(self, s: Span) -> int:
        d = 0
        while s.parent is not None:
            s = self.spans[s.parent]
            d += 1
        return d

    def subtree(self, s: Span) -> list[Span]:
        kids: dict = {}
        for x in self.spans[s.id:]:
            kids.setdefault(x.parent, []).append(x)
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.id, []))
        return out

    def jobs_under(self, s: Span) -> list:
        return [j for x in self.subtree(s) for j in x.jobs]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((x.start, x.end) for x in self.spans if x.parent == s.id)
        return s.dur - _union_len(kids, s.start, s.end)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                    "start": s.start, "end": s.end, "self_s": self.self_time(s),
                    "jobs": [{"id": j[0], "submit": j[1], "end": j[2], **j[3]} for j in s.jobs],
                }) + "\n")


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_jobs_s(tracer: Tracer, s: Span) -> float:
    """Wall time of ``s`` during which at least one of its Spark jobs ran."""
    return _union_len([(j[1], j[2]) for j in tracer.jobs_under(s)], s.start, s.end)
