"""In-memory span recorder with per-span Spark status counts.

A span wraps one call into a package function. While tracing is on,
each span runs under its own Spark job group, and when it ends the
jobs of that group are read back from the driver's status store
(which exists with the UI disabled): jobs, stages, tasks, executor run,
CPU and GC time, shuffle write and spill. With tracing off, ``span``
only yields, so the untraced run pays nothing.

Spans are kept in a list and written out by the caller when the run
ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from graftbench.stats import self_time

#: A stage with one task and more executor run time than this is a
#: serial hot spot (the "heavy single-task stage" count).
HEAVY_STAGE_MS = 200

COUNT_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes", "heavy_single_task_stages")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def job_counts(spark, job_ids) -> dict:
    """Sum executor-side counts over ``job_ids`` from the status store.
    Stages skipped because their shuffle output was reused have no
    attempt and are not counted."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNT_KEYS, 0)
    seen: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(st.status()) == "SKIPPED":
                continue
            n, run = st.numTasks(), st.executorRunTime()
            out["stages"] += 1
            out["tasks"] += n
            out["run_ms"] += run
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["heavy_single_task_stages"] += int(n == 1 and run > HEAVY_STAGE_MS)
    return out


def group_counts(spark, group: str) -> dict:
    """Counts for every job run under Spark job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return job_counts(spark, sc.statusTracker().getJobIdsForGroup(group))


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, parent, self.run_id, 0.0)
        group = f"{self.run_id}/{sp.id}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if prev is None:
                sc._jsc.clearJobGroup()
            else:
                sc.setJobGroup(prev, "")
            sp.counts = group_counts(self.spark, group)
            self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def total(self, key: str, spans=None) -> float:
        return sum(s.counts.get(key, 0) for s in (self.spans if spans is None else spans))

    def records(self) -> list[dict]:
        """Spans in start order, each with its self time: its duration
        minus the part its child spans cover."""
        return [asdict(s) | {"self_s": self_time(
                    s.start, s.end, [(c.start, c.end) for c in self.children(s)])}
                for s in sorted(self.spans, key=lambda s: s.start)]
