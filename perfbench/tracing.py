"""In-memory spans for traced runs, written out once at the end.

Each span runs its Spark actions under a job group of the span's name, so
the REST snapshot taken after the run can attribute stage and plan-node
metrics to it.
"""

import json
import time
from contextlib import contextmanager


ROOT = "perfbench"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans = []
        self._stack = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name, group=True):
        """Record a span; with ``group`` its Spark jobs run under a job
        group of its name, else under the enclosing span's group."""
        outer = self._stack[-1]["group"] if self._stack else ROOT
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": name if group else outer,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if group:
                sc.setJobGroup(outer, outer)

    def seconds(self, name):
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
