"""Span tracing from outside the program, for the benchmark's traced runs.

The package is not edited: :meth:`Tracer.wrap` replaces a module or class
attribute with a wrapper that records a span around each call, and
:meth:`Tracer.restore` puts every original back.  A wrapper must patch
the name each caller actually resolves -- a function imported by name
into another module is patched in that module, not where it is defined.

A span is ``(name, start, end, parent, op)``.  An *op* is one client
operation (an ingest, an HTTP read, a drain, a query); every span that
starts while an op is open belongs to it, whichever thread runs it (the
benchmark has one client, so at most one op is open).  Spark work per op
comes from the scheduler's sequential job id: the ids issued between an
op's start and end are its jobs, and the status store gives their stage
and task counts.  The status store answers with ``spark.ui.enabled``
false.
"""

from __future__ import annotations

import functools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Optional


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict[str, Any]] = []
        self.ops: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Optional[dict[str, Any]] = None
        # wrappers record spans only while an op is open
        self.active = False
        self._restore: list[tuple[Any, str, Any]] = []

    # -- Spark job accounting ---------------------------------------------
    def next_job_id(self) -> int:
        # an AtomicInteger; py4j hands java.lang.Number values over as int
        return int(self._jsc.dagScheduler().nextJobId())

    def flush_listeners(self) -> None:
        """Wait until the listener bus has delivered every queued event,
        so the status store (and any registered listener) is current."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_stats(self, first: int, end: int) -> dict[str, Any]:
        """Jobs, stages and tasks for job ids ``[first, end)``, plus the
        executor and shuffle totals of their stages."""
        store = self._jsc.statusStore()
        out = {
            "jobs": end - first, "stages": 0, "tasks": 0,
            "executor_cpu_s": 0.0, "executor_run_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "in_jobs_s": 0.0,
        }
        intervals = []
        seen_stages: set[int] = set()
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Exception:  # evicted or never registered
                continue
            out["tasks"] += int(job.numTasks())
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: never ran
                out["stages"] += 1
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 1e6
        out["in_jobs_s"] = _union(intervals) / 1e3
        return out

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        op = self._op
        parent = stack[-1] if stack else (op["span"] if op else None)
        rec = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent, "op": op["id"] if op else None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        """One client operation: a root span plus the Spark jobs it ran.
        Job stats are read after the op ends, outside its timed span."""
        first = self.next_job_id()
        op = {"id": len(self.ops), "kind": kind, "span": None}
        with self._lock:
            self.ops.append(op)
        self._op = op
        self.active = True
        try:
            with self.span(f"op.{kind}") as rec:
                op["span"] = rec["id"]
                yield op
        finally:
            self.active = False
            self._op = None
        end = self.next_job_id()
        self.flush_listeners()
        op.update(self.job_stats(first, end))
        root = self.spans[op["span"]]
        op["wall_s"] = root["end"] - root["start"]

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        if isinstance(original, (staticmethod, classmethod)):
            raise TypeError(f"{owner}.{attr}: wrap the underlying function")

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- summaries ----------------------------------------------------------
    def durations(self, name: str, kind: Optional[str] = None, self_time: bool = False) -> list[float]:
        """Durations in seconds of every span called ``name`` (inside ops
        of ``kind`` when given); ``self_time`` subtracts the time its
        direct children cover."""
        kinds = {o["id"]: o["kind"] for o in self.ops}
        children: dict[int, list[dict[str, Any]]] = {}
        if self_time:
            for s in self.spans:
                if s["parent"] is not None and s["end"] is not None:
                    children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if kind is not None and kinds.get(s["op"]) != kind:
                continue
            d = s["end"] - s["start"]
            if self_time:
                d -= _union(
                    [(c["start"] * 1e3, c["end"] * 1e3) for c in children.get(s["id"], [])]
                ) / 1e3
            out.append(d)
        return out

    def dump(self, path: str, extra: Optional[dict[str, Any]] = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops, **(extra or {})}, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals (any unit)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no samples: the layer did no work)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def attach_stream_progress(spark) -> list[dict[str, Any]]:
    """Register a ``StreamingQueryListener`` through ``spark.streams`` and
    return the list it appends every micro-batch's progress to."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict[str, Any]] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append(
                {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return events
