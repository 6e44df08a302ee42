"""Spans and Spark counters for the traced run.

A span wraps one benchmark call into an engine module: name, start, end,
parent and the operation id it belongs to. When tracing is on, each span
also sets a Spark job group named after the span, so afterwards every job
the call started can be credited to it from Spark's status store (stage
task counts, executor run/CPU time, GC, shuffle bytes, spill). Streams run
their jobs under their run id, which the benchmark records as the group.

Spans are kept in memory and written out once, at the end of the run. With
tracing off, ``span`` only yields: the untraced run pays no job-group or
clock calls beyond its own end-to-end timers.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int = 0, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent, time.perf_counter(), attrs=attrs)
        s.group = f"pb-{len(self.spans)}-{name}"
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0  # executor run time summed over tasks
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def counters_by_group(spark) -> dict[str, Counters]:
    """Sum Spark's status store per job group. Waits for the listener bus
    first, so jobs that just finished are counted."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[str, Counters] = {}
    seen_stages: set[int] = set()
    for job in _seq(store.jobsList(None)):
        grp = job.jobGroup()
        if grp.isEmpty():
            continue
        c = out.setdefault(grp.get(), Counters())
        c.jobs += 1
        for sid in _seq(job.stageIds()):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            for st in _seq(store.stageData(sid, False, None, False, None)):
                if str(st.status()) == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += st.numCompleteTasks()
                c.run_ms += st.executorRunTime()
                c.cpu_ms += st.executorCpuTime() / 1e6
                c.gc_ms += st.jvmGcTime()
                c.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                c.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return out


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        name: float(phases.apply(name).durationMs())
        for name in ("analysis", "optimization", "planning")
        if phases.contains(name)
    }
