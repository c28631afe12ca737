"""In-memory span tracer for the traced benchmark run.

Spans are recorded at layer boundaries by wrapping the engine's public
entry points from outside (no engine file changes): each span is
``[name, start, end, parent, op_id]``; spans of one benchmark operation
share its ``op_id``. A layer's self time is its span's duration minus the
time its direct child spans cover (children never overlap: one client
thread, closed loop).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list = []
        self._stack: list = []
        self.op_id = None
        self.counters: dict = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``on_result``
        sees each result (while tracing) to derive counters."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)

    def layer_times(self, op_ids=None) -> dict:
        """{span name: (calls, total self seconds, total seconds)} over the
        spans whose op id is in ``op_ids`` (all spans when None)."""
        child_time = defaultdict(float)
        for name, start, end, parent, op in self.spans:
            if parent >= 0 and end is not None:
                child_time[parent] += end - start
        out: dict = defaultdict(lambda: [0, 0.0, 0.0])
        for i, (name, start, end, parent, op) in enumerate(self.spans):
            if end is None or (op_ids is not None and op not in op_ids):
                continue
            rec = out[name]
            rec[0] += 1
            rec[1] += (end - start) - child_time[i]
            rec[2] += end - start
        return {k: tuple(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op_id"],
                    "spans": self.spans,
                    "counters": dict(self.counters),
                },
                f,
            )


class SparkStats:
    """Per-operation Spark work, read from job groups and the status
    store: jobs, tasks, input rows/bytes and shuffle bytes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, op_id) -> None:
        self.sc.setJobGroup(f"perfbench-{op_id}", "perfbench op")

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, op_id) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "tasks": 0, "input_rows": 0, "input_bytes": 0, "shuffle_bytes": 0}
        for jid in tracker.getJobIdsForGroup(f"perfbench-{op_id}"):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out


def jvm_gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
