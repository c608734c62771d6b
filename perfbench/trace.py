"""Spans and Spark counters for the traced run.

A span wraps one call from the benchmark into a layer of the engine.
Each span runs under its own Spark job group, so the jobs, stages and
task metrics it caused can be read back from the status tracker and
the application status store (populated even with the UI disabled).
Spans are kept in memory; the workload turns them into per-layer
metrics once the traced pass is over.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __add__(self, other: "Counters") -> "Counters":
        return Counters(*(a + b for a, b in zip(vars(self).values(), vars(other).values())))


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: Counters = field(default_factory=Counters)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and the Spark work done inside each of them."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"perfbench-{len(self.spans)}-{name}"
        self.sc.setJobGroup(group, name, False)
        rec = Span(name, parent, time.perf_counter())
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec.counters = self._read(group)
            self.spans.append(rec)

    def _read(self, group: str) -> Counters:
        """Fold the stages of every job of ``group`` into one record."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        no_tasks = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        c = Counters(jobs=len(jobs))
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += sd.numCompleteTasks()
                c.cpu_s += sd.executorCpuTime() / 1e9
                c.gc_s += sd.jvmGcTime() / 1e3
                c.shuffle_read_bytes += sd.shuffleReadBytes()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def storage(self) -> tuple[int, int]:
        """(persistent RDDs, bytes they hold in memory) right now."""
        self._jsc.listenerBus().waitUntilEmpty()
        pinned = self._jsc.getPersistentRDDs().size()
        rdds = self._jsc.statusStore().rddList(True)
        used = sum(rdds.apply(i).memoryUsed() for i in range(rdds.size()))
        return pinned, used
