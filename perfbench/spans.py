"""Outside-in tracing: spans around the benchmark's calls into each layer.

A span records its layer, name, start, end and parent. Spans stay in memory
and are summarized when the run ends. A layer's self time is its span's
duration minus the part its child spans cover; for each operation the
benchmark also reports the remainder of the operation's wall time that no
layer span covers. With tracing off, ``span`` records nothing and costs one
branch.

``SparkCounters`` reads the JVM's own counters around one operation: the
jobs, stages and tasks of the operation's job group (status tracker), shuffle
and spill bytes of those stages (the application status store), collector
time (GC MXBeans) and the storage an operation leaves persisted.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children_s


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, name, time.perf_counter(), parent=parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = time.perf_counter()
            if parent is not None:
                self.spans[parent].children_s += s.seconds

    def op_self_times(self, op_layer: str = "op") -> dict[str, list[float]]:
        """Per layer, the self seconds of its spans inside operations, plus
        ``unattributed``: each operation's own self time, the part of its
        wall time no layer span covers."""
        ops = {i for i, s in enumerate(self.spans) if s.layer == op_layer}
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if i in ops:
                out["unattributed"].append(s.self_seconds)
                continue
            p = s.parent
            while p is not None and p not in ops:
                p = self.spans[p].parent
            if p is not None:
                out[s.layer].append(s.self_seconds)
        return out


class SparkCounters:
    """JVM-side counters for one operation, read through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._store = self.sc._jsc.sc().statusStore()
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def cached_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def job_group(self, group: str) -> dict[str, int]:
        """Jobs, stages, tasks, shuffle-write and spill bytes of the jobs
        run under ``group``."""
        tracker = self.sc.statusTracker()
        out = dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    stage = self._store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # never submitted
                    continue
                if stage.status().toString() == "SKIPPED":  # output reused
                    continue
                out["stages"] += 1
                out["tasks"] += int(stage.numTasks())
                out["shuffle_bytes"] += int(stage.shuffleWriteBytes())
                out["spill_bytes"] += int(stage.memoryBytesSpilled()) + int(
                    stage.diskBytesSpilled()
                )
        return out

    def peak_rss_mb(self) -> float:
        """High-water resident set of the JVM (``VmHWM``), in MiB."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
