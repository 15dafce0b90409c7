"""Spans recorded from outside the program, and the Spark figures
attributed to them.

A span is opened around a call into one of the engine's public
functions (the benchmark swaps the name for a wrapper; the program is
not edited). It records wall time, its parent, and the window of Spark
stage and job ids the scheduler handed out while it was open. Stage
figures are read from the SparkContext's status store after the unit of work
ends (:meth:`Tracer.stats`), so the reads stay out of the timed region. Spans stay in memory
until :meth:`Tracer.dump`.

The stage-id window is used instead of a job group because several
queries launch jobs from their own threads, which a thread-local job
group would miss.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    stage_lo: int = 0
    stage_hi: int = 0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def stage_summary(stages: list[dict], cores: int) -> dict:
    """Totals over a span's stages, plus the parallelism of its longest
    stage: tasks / cores (below 1 means cores sat idle)."""
    out = {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "shuffle_bytes": sum(s["shuffle_read"] + s["shuffle_write"] for s in stages),
        "spill_bytes": sum(s["spill_disk"] + s["spill_mem"] for s in stages),
        "parallelism": 0.0,
    }
    if stages:
        longest = max(stages, key=lambda s: s["wall_ms"])
        out["parallelism"] = longest["tasks"] / cores
    return out


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, spark, cores: int):
        self.spans: list[Span] = []
        self.cores = cores
        self.enabled = False
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._stages: dict[int, dict | None] = {}
        self._sc = spark.sparkContext._jsc.sc()

    # -- cursors and stage figures -------------------------------------

    def _cursors(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return int(dag.nextStageId()), int(dag.numTotalJobs())

    def stage(self, sid: int) -> dict | None:
        """Figures of the last attempt of stage ``sid``; None for a stage
        that never ran (skipped, or evicted from the status store)."""
        try:
            st = self._sc.statusStore().lastStageAttempt(sid)
        except Py4JJavaError:  # no such stage in the store
            return None
        sub, done = st.submissionTime(), st.completionTime()
        wall = (done.get().getTime() - sub.get().getTime()
                if sub.isDefined() and done.isDefined() else 0)
        return {
            "tasks": st.numTasks(),
            "wall_ms": wall,
            "run_ms": st.executorRunTime(),
            "cpu_ns": st.executorCpuTime(),
            "shuffle_read": st.shuffleReadBytes(),
            "shuffle_write": st.shuffleWriteBytes(),
            "spill_disk": st.diskBytesSpilled(),
            "spill_mem": st.memoryBytesSpilled(),
        }

    def stats(self, span: Span) -> dict:
        """The stage totals of ``span`` (see :func:`stage_summary`), read
        from the status store once and kept in its attrs."""
        if "tasks" not in span.attrs:
            for sid in range(span.stage_lo, span.stage_hi):
                if sid not in self._stages:
                    self._stages[sid] = self.stage(sid)
            stages = [self._stages[i] for i in range(span.stage_lo, span.stage_hi)]
            span.attrs.update(stage_summary([s for s in stages if s], self.cores))
        return span.attrs

    def storage(self) -> dict:
        """Persisted RDDs (caches and local checkpoints) right now."""
        infos = self._sc.getRDDStorageInfo()
        return {
            "persisted_rdds": len(infos),
            "mem_bytes": sum(i.memSize() for i in infos),
            "disk_bytes": sum(i.diskSize() for i in infos),
        }

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, 0.0, attrs=attrs)
        s.stage_lo, s.job_lo = self._cursors()
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.stage_hi, s.job_hi = self._cursors()
            self._stack.pop()

    def patch(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span while
        the tracer is enabled. ``name`` is a string or a function of
        the call's arguments; ``after(span)`` runs once the call has
        returned, outside the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as span:
                out = original(*args, **kwargs)
            if after is not None:
                after(span)
            return out

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, default=str)
