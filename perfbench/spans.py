"""Spans and Spark job accounting for the benchmark's traced runs.

A span is one call into a layer, recorded from the benchmark's side of the
call: name, parent, start and end (monotonic seconds), and the Spark job
group that labels the jobs the call launched while it was the innermost
span. Spans stay in memory; :meth:`Tracer.resolve` turns job groups into
job, stage and task figures once a traced operation has finished, and the
caller aggregates them per layer.

Self time is a span's duration minus the time its child spans cover. Spans
nest strictly (one client thread, plus streaming callbacks that run while
the client thread waits), so the self times of a span tree add up to the
root's duration.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    group: str = ""
    child_s: float = 0.0
    extra_groups: List[str] = field(default_factory=list)
    counters: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._stack: List[int] = []
        self.spans: List[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, self._stack[-1] if self._stack else None, 0.0,
                      group=f"perfbench-span-{idx}")
            self.spans.append(sp)
            self._stack.append(idx)
        prev_group = self._sc.getLocalProperty(_GROUP_PROP)
        self._sc.setJobGroup(sp.group, name, False)
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._sc.setLocalProperty(_GROUP_PROP, prev_group)
            with self._lock:
                self._stack.pop()
                if sp.parent is not None:
                    self.spans[sp.parent].child_s += sp.duration

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the innermost open span."""
        if self.enabled and self._stack:
            counters = self.spans[self._stack[-1]].counters
            counters[name] = counters.get(name, 0) + value

    def wrap(self, fn: Callable, name: str) -> Callable:
        """A timing shim: ``fn`` called inside a span called ``name``."""

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return shim

    def current(self) -> Optional[str]:
        return self.spans[self._stack[-1]].name if self._stack else None

    # -- job accounting -------------------------------------------------

    def _wait_for_listeners(self) -> None:
        # job and stage events reach the status store asynchronously
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_totals(self, group: str) -> StageTotals:
        """Jobs, stages and task figures of one job group, from the
        driver's status store (stages skipped by reuse are not counted)."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        no_list = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = StageTotals()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            for stage_id in info.stageIds:
                attempts = store.stageData(stage_id, False, no_list, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += sd.numCompleteTasks()
                    out.task_s += sd.executorRunTime() / 1000.0
                    out.shuffle_write_bytes += sd.shuffleWriteBytes()
                    out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out.output_bytes += sd.outputBytes()
        return out

    def resolve(self, first: int) -> Dict[int, StageTotals]:
        """Own job totals of every span from index ``first`` on, including
        the span's ``extra_groups`` (such as a streaming query's run id:
        the query's jobs run under that group, not the span's)."""
        self._wait_for_listeners()
        totals = {}
        for idx in range(first, len(self.spans)):
            sp = self.spans[idx]
            t = self.group_totals(sp.group)
            for group in sp.extra_groups:
                t.add(self.group_totals(group))
            totals[idx] = t
        return totals

    def rolled_up(self, first: int, own: Dict[int, StageTotals]) -> Dict[int, StageTotals]:
        """Job totals per span including those of its descendants."""
        out = {i: StageTotals() for i in own}
        for idx in own:
            i: Optional[int] = idx
            while i is not None and i >= first:
                out[i].add(own[idx])
                i = self.spans[i].parent
        return out
