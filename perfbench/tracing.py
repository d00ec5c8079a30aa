"""Spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions; nothing inside ``ushas_spark`` is changed.
Spark work is attributed through job groups (``<op>/build`` and
``<op>/exec``) and read back from the status store once the op is done.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0

STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "task_skew",
)


class Tracer:
    """In-memory spans: name, start, end, parent span index and op id.

    While ``enabled`` is false the wrappers call straight through, so an
    untraced pass in the same process pays only one attribute check.
    """

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def durations(self, ops: set[str] | None = None) -> dict[str, list[float]]:
        """Span durations by name, restricted to spans of ``ops`` if given."""
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if ops is None or s["op"] in ops:
                out[s["name"]].append(s["end"] - s["start"])
        return out

    def self_times(self, ops: set[str] | None = None) -> dict[str, float]:
        """Per span name: total duration minus the time covered by children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _double_array(gateway, values):
    arr = gateway.new_array(gateway.jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def group_counters(spark, group: str) -> dict[str, float]:
    """Sum the stage data of every job Spark ran under job group ``group``.

    ``task_skew`` is the largest max/median executor run time over the
    group's stages (1.0 when every stage is balanced or has one task).
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    quantiles = _double_array(sc._gateway, [0.5, 1.0])
    c = dict.fromkeys(STAGE_FIELDS, 0.0)
    c["task_skew"] = 1.0
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        c["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never registered with the store
                continue
            if st.status().toString() != "COMPLETE":  # skipped: output reused
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_mb"] += st.inputBytes() / MB
            c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["spill_mb"] += st.diskBytesSpilled() / MB
            dist = store.taskSummary(sid, st.attemptId(), quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    c["task_skew"] = max(c["task_skew"], top / med)
    return c
