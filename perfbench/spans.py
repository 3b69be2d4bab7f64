"""Job-group spans: attribute Spark work to the benchmark's own calls.

A span sets a unique Spark job group around a block of Python code and
times it. Every job the block triggers — including the asynchronous
AQE stage and broadcast jobs, which inherit the caller's local
properties — lands in that group, so after the run the app status
store gives each span its jobs, completed tasks, shuffle write bytes
and bytes spilled to disk. Spans nest: the inner group is active
inside the inner block and the outer one is restored on exit, so an
outer span's figures exclude its inner spans.

Nothing here touches the library: the spans wrap calls made from
outside it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    seconds: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, f"perfbench-{len(self.spans)}-{name}")
        self.spans.append(sp)
        self._stack.append(sp.group)
        self.sc.setJobGroup(sp.group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setJobGroup(None, None)

    def collect(self) -> list[Span]:
        """Fill jobs/tasks/shuffle/spill of every span from the status
        store (after the listener bus has delivered every event)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jlist = self.sc._gateway.jvm.java.util.ArrayList()
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages = store.stageList(jlist, *defaults)
        by_stage: dict[int, list[int]] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            acc = by_stage.setdefault(s.stageId(), [0, 0, 0])
            acc[0] += s.numCompleteTasks()
            acc[1] += s.shuffleWriteBytes()
            acc[2] += s.diskBytesSpilled()
        for sp in self.spans:
            job_ids = tracker.getJobIdsForGroup(sp.group)
            stage_ids: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp.jobs = len(job_ids)
            for sid in stage_ids:
                tasks, shuffle, spill = by_stage.get(sid, (0, 0, 0))
                sp.tasks += tasks
                sp.shuffle_bytes += shuffle
                sp.spill_bytes += spill
        return self.spans
