"""Tracing from outside the program.

``Tracer.patch`` replaces a layer's public entry point, where its caller
looks the name up, with a wrapper that records a span (name, start, end,
parent, op id) in memory. ``Tracer.op`` opens one operation: a root span
plus its own Spark job group, whose jobs, tasks, executor run time,
shuffle bytes and spill are read back from the status tracker and the
JVM status store after the operation returns, outside its timing.

Tracing can be switched off per operation (``enabled``), which is how a
traced run times some operations untraced to report its own overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

from py4j.protocol import Py4JJavaError

SPARK_COUNTERS = ("jobs", "tasks", "executor_run_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._op_id: int | None = None
        self._ids = itertools.count()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """A span whose parent is the innermost open span on this thread,
        or the current operation's root for a helper thread's first span."""
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else self._root,
            "op": self._op_id,
        }
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def patch(self, owner, attr: str, name: str, wrap=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``wrap(fn, rec,
        args, kwargs)`` replaces the plain call when a wrapper needs to
        look at or adapt the arguments."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled or tracer._root is None:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                if wrap is None:
                    return fn(*args, **kwargs)
                return wrap(fn, rec, args, kwargs)

        setattr(owner, attr, traced)

    # ------------------------------------------------------- operations

    @contextlib.contextmanager
    def op(self, kind: str, scope: str | None = None):
        """One timed operation. Yields a record whose ``wall`` is set on
        exit; when tracing is on, the record also gets the operation's
        Spark counters under ``spark``."""
        rec = {"kind": kind, "scope": scope, "traced": self.enabled}
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["wall"] = time.perf_counter() - t0
            self.ops.append(rec)
            return
        op_id = next(self._ids)
        group = f"perfbench-{op_id}"
        self.sc.setJobGroup(group, kind)
        self._op_id, self._root = op_id, None
        try:
            with self.span(f"op.{kind}") as root:
                self._root = root["id"]
                yield rec
        finally:
            self._root = self._op_id = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec["wall"] = root["end"] - root["start"]
        rec["op"] = op_id
        rec["spark"] = self.spark_counters(group)
        self.ops.append(rec)

    def spark_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def dump(self) -> dict:
        return {"spans": self.spans, "ops": self.ops}
