"""In-memory spans with one Spark job group each.

A span records name, op id, parent, start and end. While it is open
its id is the thread's Spark job group, so every job the span starts
is attributed to it alone and never to its parent: job and stage
counters are self counts by construction. Stage counters come from
the status store, which is filled with the UI off. Spans stay in
memory until the run ends, when ``layers`` folds them into per-layer
totals.
"""

from __future__ import annotations

import contextlib
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "output_bytes": "outputBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    id: str
    op: str
    parent: str | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def self_ms(self) -> float:
        return (self.end - self.start - self.child_s) * 1000


class Tracer:
    """Records spans when enabled; a disabled tracer costs a branch."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(name, f"{op or name}#{len(self.spans)}", op or
                 (parent.op if parent else ""), parent.id if parent else
                 None, time.perf_counter())
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_jobs(s)

    def _read_jobs(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for job in tracker.getJobIdsForGroup(s.id):
            s.jobs += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # evicted, or never attempted
                    continue
                if data.status().toString() == "SKIPPED":
                    continue
                s.stages += 1
                for key, getter in STAGE_FIELDS.items():
                    s.counters[key] = (s.counters.get(key, 0)
                                       + getattr(data, getter)())

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict):
        """Replace each ``{name: function}`` wherever a loaded engine
        module holds it (``registry`` imports ``read_table`` as ``_t``,
        for one), and restore the originals on exit."""
        swaps = []
        if self.enabled:
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(
                        "distributed_mapreduce_p2p_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    for name, fn in targets.items():
                        if val is fn:
                            swaps.append((mod, attr, val))
                            setattr(mod, attr, self.wrap(name, fn))
        try:
            yield
        finally:
            for mod, attr, val in swaps:
                setattr(mod, attr, val)


def fold_layers(spans: list[Span], names: list[str]) -> dict:
    """Per-layer totals over ``spans``: calls, self ms, self jobs and
    the summed stage counters for every span name in ``names``."""
    out = {n: {"calls": 0, "ms": 0.0, "jobs": 0, "stages": 0}
           for n in names}
    for s in spans:
        if s.name not in out:
            continue
        agg = out[s.name]
        agg["calls"] += 1
        agg["ms"] += s.self_ms
        agg["jobs"] += s.jobs
        agg["stages"] += s.stages
        for k, v in s.counters.items():
            agg[k] = agg.get(k, 0) + v
    return out
