"""Spans, Spark job attribution and stream progress for the traced run.

A span records name, start, end, parent span and operation id. Each
span runs its Spark work under its own job group, and on exit reads the
group's job ids from ``statusTracker``, so jobs are attributed to the
innermost span that launched them without running any extra job. Spans
are kept in memory and written out once, at exit.

With tracing off, ``Tracer(None)`` keeps the same interface and records
nothing, so the untraced run pays no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self.op_id = 0

    @property
    def on(self) -> bool:
        return self.spark is not None

    def next_op(self) -> int:
        self.op_id += 1
        return self.op_id

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        self._groups += 1
        group = f"perfbench-{self._groups}"
        rec = {"name": name, "op": self.op_id, "group": group, "idx": idx,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "jobs": 0}
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def ms(self, rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0

    def total_jobs(self, rec: dict) -> int:
        """Jobs of span ``rec`` and every span below it."""
        return rec["jobs"] + sum(self.total_jobs(s) for s in self.spans[rec["idx"] + 1:]
                                 if s["parent"] == rec["idx"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress event's durations and row count,
    so a drain's wall time can be split into trigger work and the rest
    (query start-up, source initialisation, shutdown)."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({"batch": p.batchId, "rows": p.numInputRows,
                            "durationMs": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def take(self, terminated: int, timeout_s: float = 10.0) -> list[dict]:
        """Events so far, once ``terminated`` queries have ended: the
        listener bus delivers events after ``awaitTermination`` returns."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < terminated and time.monotonic() < deadline:
            time.sleep(0.02)
        out, self.events = self.events, []
        return out
