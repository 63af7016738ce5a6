"""In-memory span tracing and Spark stage attribution.

A span is ``(name, start, end, parent, run id)`` plus the range of Spark
stage and job ids allocated while it was open. Spans are opened by the
benchmark around calls into the program's public functions (optionally
by wrapping a module attribute, so calls the program makes internally
are caught too), kept in memory, and written out once at the end.

Stage counters are attributed to spans by stage-id RANGE, not by job
group: ``foreachBatch`` bodies run on the stream's own thread, which a
job group set on the driver thread does not reach, while stage ids are
allocated from one counter per SparkContext whichever thread submits.
A span's SELF stages are its range minus the ranges of its children, so
nested layers never count the same stage twice.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import dataclass, field

COUNTERS = ("cpu_ms", "run_ms", "python_ms", "gc_ms", "shuffle_bytes",
            "spill_bytes", "input_bytes", "output_bytes", "tasks")


@dataclass
class Span:
    name: str
    start: float
    run_id: int
    parent: int | None
    sid: int
    end: float | None = None
    stage_lo: int = 0
    stage_hi: int = 0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_time(spans: list[Span], sid: int) -> float:
    """Duration of span ``sid`` minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    me = spans[sid]
    lo, hi = me.start, me.end if me.end is not None else me.start
    ivs = sorted(
        (max(lo, c.start), min(hi, c.end if c.end is not None else c.start))
        for c in spans
        if c.parent == sid
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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
    return (hi - lo) - covered


def self_stages(spans: list[Span], sid: int) -> list[int]:
    """Stage ids allocated inside span ``sid`` but outside its children."""
    me = spans[sid]
    own = set(range(me.stage_lo, me.stage_hi))
    for c in spans:
        if c.parent == sid:
            own -= set(range(c.stage_lo, c.stage_hi))
    return sorted(own)


class Tracer:
    """Span recorder. ``ids`` returns the current ``(next_stage_id,
    next_job_id)`` pair; with ``None`` the stage ranges stay empty (used
    by the self-tests and by an untraced run)."""

    def __init__(self, ids=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self.enabled = True
        self._ids = ids or (lambda: (0, 0))
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = self._stack()  # spans opened on other threads nest here
        self.run_id = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = stack or self._main
        parent = outer[-1] if outer else None
        stage, job = self._ids()
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, self._clock(), self.run_id, parent, sid,
                      stage_lo=stage, job_lo=job, attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.stage_hi, sp.job_hi = self._ids()
            sp.end = self._clock()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a twin that runs inside a span, so
        calls the program makes through the module attribute are traced."""
        orig = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        spanned.__wrapped__ = orig
        setattr(module, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "name": s.name, "run_id": s.run_id,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "stages": [s.stage_lo, s.stage_hi], "jobs": [s.job_lo, s.job_hi],
                    **s.attrs,
                }) + "\n")


class StageStore:
    """Reads per-stage counters from Spark's status store (works with
    the UI disabled). Stage ids come from the DAG scheduler's counters,
    which both the driver thread and stream threads advance."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)

    def ids(self) -> tuple[int, int]:
        return int(self._dag.nextStageId()), int(self._dag.nextJobId())

    def settle(self) -> None:
        """Wait until the listener bus has applied every posted event, so
        finished stages show their final counters."""
        self._sc.listenerBus().waitUntilEmpty()

    def counters(self, stage_ids) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        out["stages"] = 0.0
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, None, False, self._empty)
            except Exception:  # noqa: BLE001 - py4j NoSuchElement: stage never ran
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                cpu = s.executorCpuTime() / 1e6
                run = float(s.executorRunTime())
                out["stages"] += 1
                out["cpu_ms"] += cpu
                out["run_ms"] += run
                out["python_ms"] += max(0.0, run - cpu)
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
                out["input_bytes"] += s.inputBytes()
                out["output_bytes"] += s.outputBytes()
                out["tasks"] += s.numTasks()
        return out
