"""Spans around calls into the program's layers, recorded from outside it.

``Tracer.wrap(module, attr)`` replaces a module attribute with a wrapper
that records a span per call and puts the original back on ``restore()``.
Callers look module attributes up at call time, so wrapping the name in
the *calling* module (``pipeline.write_enhanced``) times exactly the calls
that module makes. A call that returns a DataFrame is timed for building
it; the action that runs it is timed where the benchmark runs it.

Spans stay in memory until the run ends. Each has a name, start, end,
parent (on the same thread), thread and op id.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from functools import wraps


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._stack.__dict__.setdefault("ids", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "op": self.op_id,
        }
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]


class SparkCounters:
    """Engine-wide counters read over py4j: jobs submitted, SQL executions,
    task time, GC time. Deltas around an op attribute its cost, including
    jobs run on other driver threads."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> dict:
        from bench import _gc_totals

        execs = self._sc.statusStore().executorList(True)
        task_ms = sum(execs.apply(i).totalDuration() for i in range(execs.size()))
        return {
            "jobs": int(self._sc.dagScheduler().nextJobId()),
            "sql": int(
                self._spark._jsparkSession.sharedState().statusStore().executionsCount()
            ),
            "task_ms": task_ms,
            "gc_ms": _gc_totals(self._spark)[0],
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in before}

    def persistent_rdds(self) -> int:
        return int(self._spark.sparkContext._jsc.getPersistentRDDs().size())

