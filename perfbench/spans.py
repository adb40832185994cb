"""Spans around calls into the engine's layers, with Spark counters.

A span records its name, parent, start and end, and the range of Spark
job IDs submitted while it was open.  Jobs are attributed by ID range,
not by job group: the gold fan-out submits from ``ThreadPoolExecutor``
threads, which do not inherit the caller's job group, but every layer
runs after the previous one has returned, so the IDs submitted inside a
span's interval are exactly its jobs.  Counters come from the status
store (``sc._jsc.sc().statusStore()``), which works with the UI off.

With ``enabled=False`` every method is a no-op, so the untraced run pays
nothing but a context-manager call per span.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

#: Counters summed over a span's jobs (see :meth:`Tracer.counters`).
COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "task_attempts_failed",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0  # first job id that may belong to the span
    job_hi: int = -1  # last job id submitted before the span closed
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        if self.enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
        self._cache: dict[int, dict] = {}

    # -- span recording -------------------------------------------------
    def _last_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, 0.0, attrs=dict(attrs))
        sp.job_lo = self._last_job_id() + 1
        sp.start = time.perf_counter()
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.job_hi = self._last_job_id()
            self._stack.pop()

    @contextlib.contextmanager
    def patched(self, module, attr: str, span_name: str, attrs=None):
        """Replace ``module.attr`` with a wrapper that records one span
        per call, restoring the original on exit.  Used to put spans
        around the layer calls a pipeline makes internally.  ``attrs``,
        if given, maps the call's ``(args, kwargs)`` to span attributes."""
        if not self.enabled:
            yield
            return
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name, **(attrs(args, kwargs) if attrs else {})):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, original)

    # -- derived quantities ---------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it that child spans cover."""
        intervals = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def _job(self, job_id: int) -> dict:
        if job_id in self._cache:
            return self._cache[job_id]
        out = dict.fromkeys(COUNTERS, 0)
        try:
            job = self._store.job(job_id)
        except Exception:  # noqa: BLE001 - job aged out of the store
            return out
        out["jobs"] = 1
        sids = job.stageIds()
        for i in range(sids.size()):
            st = self._store.lastStageAttempt(sids.apply(i))
            out["stages"] += 1
            if st.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["tasks"] += st.numCompleteTasks()
            out["task_attempts_failed"] += st.numFailedTasks() + st.numKilledTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._cache[job_id] = out
        return out

    def counters(self, sp: Span) -> dict:
        """Status-store counters summed over the jobs submitted while
        ``sp`` was open (nested spans' jobs included)."""
        return self.counters_for_jobs(sp.job_lo, sp.job_hi)

    def counters_for_jobs(self, lo: int, hi: int) -> dict:
        """Status-store counters summed over job ids ``lo..hi``."""
        total = dict.fromkeys(COUNTERS, 0)
        if not self.enabled:
            return total
        self._bus.waitUntilEmpty()
        for jid in range(lo, hi + 1):
            for k, v in self._job(jid).items():
                total[k] += v
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        """Spans as plain dicts, times relative to the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "seconds": round(s.seconds, 6),
                "self_s": round(self.self_seconds(s), 6),
                "jobs": [s.job_lo, s.job_hi],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
