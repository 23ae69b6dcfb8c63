"""Spans and counters for the traced run.

Spans are recorded with ``perf_counter`` around the engine's public entry
points, by patching each wrapped name where the engine imports it; the
engine's own files are not changed.  Spans stay in memory (name, start,
end, parent, op id) and are written out once, at exit.  While the tracer
is off the wrappers call straight through.
"""

from __future__ import annotations

import inspect
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.on = False
        # each span: [name, t0, t1, parent index or None, op id or None]
        self.spans: list[list] = []
        self.op: int | None = None
        self.op_span: int | None = None
        self._n_ops = 0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.errors: dict[str, int] = {}   # span name -> calls that raised

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self.op_span
        with self._lock:
            self.spans.append([name, time.perf_counter(), None, parent, self.op])
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    @contextmanager
    def op_scope(self, kind: str):
        """One benchmark op: its span is the root of every span any
        thread opens until the op ends (one client, one op at a time)."""
        if not self.on:
            yield None
            return
        self._n_ops += 1
        op_id = self._n_ops
        self.op = op_id
        self._stack().clear()
        idx = self._open(f"op.{kind}")
        self.spans[idx][4] = op_id
        self.op_span = idx
        try:
            yield op_id
        finally:
            self._close(idx)
            self.op = self.op_span = None

    # ---------------------------------------------------------- patching
    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        static = inspect.getattr_static(owner, attr)
        is_cm = isinstance(static, classmethod)
        fn = static.__func__ if is_cm else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            idx = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            except Exception:
                with tracer._lock:
                    tracer.errors[name] = tracer.errors.get(name, 0) + 1
                raise
            finally:
                tracer._close(idx)

        wrapper.__wrapped__ = fn
        self._patches.append((owner, attr, static))
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ----------------------------------------------------------- reports
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None and s[2] is not None:
                out.setdefault(s[3], []).append(i)
        return out

    def _named(self, name: str, ops: set[int]) -> list[int]:
        return [
            i for i, s in enumerate(self.spans)
            if s[0] == name and s[4] in ops and s[2] is not None
        ]

    def count(self, name: str, ops: set[int]) -> int:
        return len(self._named(name, ops))

    def outer_time(self, name: str, ops: set[int]) -> float:
        """Total wall of ``name`` spans in ``ops``, nested repeats of the
        same name counted once."""
        tot = 0.0
        for i in self._named(name, ops):
            p = self.spans[i][3]
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                tot += self.spans[i][2] - self.spans[i][1]
        return tot

    def self_time(self, name: str, ops: set[int]) -> float:
        """Total self time of ``name`` spans in ``ops``: each span's
        duration minus the part of it that its child spans cover."""
        kids = self.children()
        tot = 0.0
        for i in self._named(name, ops):
            t0, t1 = self.spans[i][1], self.spans[i][2]
            iv = [(self.spans[k][1], self.spans[k][2]) for k in kids.get(i, [])]
            tot += (t1 - t0) - union_length(iv, t0, t1)
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "t0", "t1", "parent", "op"],
                 "spans": self.spans},
                f,
            )


def union_length(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals ``iv`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark times."""
    from etl_bitcoin_spark import state
    from etl_bitcoin_spark.operators import merge
    from etl_bitcoin_spark.streaming import poll, tailer
    from etl_bitcoin_spark.tableformat.lake import LakeTable

    tracer.wrap(tailer, "apply_batch", "merge.apply_batch")
    tracer.wrap(merge, "apply_batch", "merge.apply_batch")
    tracer.wrap(merge, "replay", "merge.replay")
    tracer.wrap(poll.PollTailer, "poll_once", "streaming.poll_once")
    tracer.wrap(state.ExactlyOnceFilter, "__init__", "state.guard_build")
    tracer.wrap(state.ExactlyOnceFilter, "__call__", "state.guard_build")
    for attr in ("load", "save", "add_range", "rebuild_from_ranges"):
        tracer.wrap(state.LsnBloom, attr, "state.bloom_io")
    tracer.wrap(LakeTable, "commit", "lake.commit")
    for attr in ("snapshot", "lineage", "bucket_entries"):
        tracer.wrap(LakeTable, attr, "lake.metadata")
    tracer.wrap(LakeTable, "compact_deltas", "lake.compact")
    tracer.wrap(LakeTable, "read", "lake.read_build")


# ---------------------------------------------------------- JVM counters
class JvmCounters:
    """Cumulative JVM-side counters read through py4j: codegen compiles
    and compile time, GC time, and Spark jobs and tasks (jobs and tasks
    are counted from the status store, so read them only at window
    boundaries: each read walks the retained job list)."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gcs = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last_job = -1

    def snapshot(self) -> dict[str, float]:
        # job and stage end events reach the status store through the
        # listener bus; drain it so every finished job is counted
        self._sc.listenerBus().waitUntilEmpty()
        jobs = tasks = 0
        seq = self._store.jobsList(None)
        top = self._last_job
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid > self._last_job:
                jobs += 1
                tasks += j.numTasks()
                top = max(top, jid)
        self._last_job = top
        return {
            "codegen_compiles": float(self._hist.getCount()),
            "codegen_ms": self._codegen.compileTime() / 1e6,
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "jobs_new": float(jobs),
            "tasks_new": float(tasks),
        }
