"""In-memory spans for the traced run.

A span wraps one call into a package layer (plus the write that
forces its lazy output).  Each span records name, parent, start and
end, the Spark metrics of the jobs it ran (sparkstats.delta) and any
counts the caller attaches.  Nothing is written until the run ends.

Self time is a span's duration minus the durations of its child
spans.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, stats, trace_id: str):
        self.spark = spark
        self.stats = stats
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"trace": self.trace_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.stats.mark()
        self._label(name)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._label(self.spans[self._stack[-1]]["name"]
                        if self._stack else None)
            rec["spark"] = self.stats.delta(mark, self.stats.mark())

    def _label(self, name: str | None) -> None:
        """Tag the jobs that follow with the span as job group (None
        clears the tag)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id",
                            f"{self.trace_id}:{name}" if name else None)
        sc.setLocalProperty("spark.job.description", name)

    def finish(self) -> list[dict]:
        """Fill in duration and self time of every span.  Spans run
        one at a time from a single stack, so siblings never overlap
        and the children's durations simply add up."""
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["wall_s"] - sum(
                c["wall_s"] for c in self.spans if c["parent"] == s["id"])
        return self.spans
