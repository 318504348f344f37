"""Spans around the benchmark's own calls into the package.

A span records name, layer, op id, parent, start and end. When a Spark
session is attached, each span also carries the status-store counters
accrued while it was open (the store ``tools/profile_bench.py`` reads).
Spans stay in memory and are written out once, at exit. Nothing inside
the package is instrumented.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from .metrics import counter_delta


class StoreCounters:
    """Snapshots of Spark's core status store (present even with the UI
    off). Stage rows are used rather than the executor summary, whose
    ``totalDuration`` is the executor's wall time, not its task time."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._dag = self._sc.dagScheduler()

    def snapshot(self, since_stage_id: int | None = None) -> dict:
        """Job and stage totals, plus the counters of every stage whose id
        is above ``since_stage_id`` (none when it is None)."""
        # Listener events reach the store asynchronously.
        self._sc.listenerBus().waitUntilEmpty()
        snap = {
            "jobs": self._dag.numTotalJobs(),
            "max_stage_id": self._dag.nextStageId() - 1,
            "stages": {},
        }
        if since_stage_id is None:
            return snap
        for sid in range(since_stage_id + 1, snap["max_stage_id"] + 1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # created but never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            snap["stages"][sid] = {
                "tasks": st.numCompleteTasks(),
                "executor_run_ms": st.executorRunTime(),
                "executor_cpu_ns": st.executorCpuTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_fetch_wait_ms": st.shuffleFetchWaitTime(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "input_rows": st.inputRecords(),
            }
        return snap


class Tracer:
    def __init__(self):
        # Set once the session exists; spans opened before carry no counters.
        self.counters: StoreCounters | None = None
        self.spans: list[dict] = []
        # Ids stay unique when the spans of a discarded attempt are removed.
        self._ids = itertools.count()
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        t0 = time.perf_counter()
        before = self.counters.snapshot() if self.counters else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = self.counters.snapshot(before["max_stage_id"])
                rec["spark"] = counter_delta(before, after)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - rec["end"])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """Stands in for Tracer when tracing is off."""

    overhead_s = 0.0
    spans: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        yield {}
