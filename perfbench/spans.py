"""Spans recorded by the benchmark around its calls into the engine.

With tracing off every method is a no-op. With tracing on, each request
also runs under its own Spark job group (``r<request id>``), so
:class:`sparkstats.StatusStore` can attribute jobs and stages to it.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # wall seconds spent inside this class's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def group(self, group: str, name: str):
        """Tag the Spark jobs started inside the block with ``group``."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self.sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t
        try:
            with self.span(name, group):
                yield
        finally:
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": parent, "request": request}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
